package graft.ingest

import java.io.File
import java.nio.file.{FileAlreadyExistsException, Files, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

/** The mutation primitives the versioned-table protocol needs.
  *
  * The SINGLE one that matters for correctness is [[putIfAbsent]]:
  * atomically publish `content` at `slot` iff no one has claimed the
  * slot — the winner's content must be fully visible the instant the
  * slot exists (no reader may observe a partial commit file).
  *
  * Everything else in [[VersionedTableIO]] (optimistic retry, read
  * validation, idempotent appends, VACUUM) is pure protocol on top of
  * this primitive, so porting the format to an object store is ONLY a
  * new backend: S3 conditional put (`If-None-Match: *`), GCS
  * `ifGenerationMatch=0`, ABFS `If-None-Match` — each is exactly
  * putIfAbsent over the commit key. The reference gets the equivalent
  * guarantee from Delta's LogStore (docker-compose.yaml:125-152 runs
  * four independent spark-submit writers against shared tables).
  *
  * [[shareFile]] is a PERFORMANCE primitive (clone cost), never a
  * correctness one: the default full copy is always safe. */
trait CommitBackend {

  /** @return true iff THIS call created the slot; false if any other
    *         writer (thread, session, or process) got there first. */
  def putIfAbsent(slot: File, content: Array[Byte]): Boolean

  /** Make `src`'s bytes available at `dst` for CLONE, as cheaply as
    * this backend honestly can. POSIX filesystems hard-link (zero
    * bytes moved, shared inodes); an object store has NO link
    * primitive — the honest analog is server-side COPY (S3
    * CopyObject / GCS rewrite: one API call per object, no bytes
    * through the client, but real bytes in the store), which the
    * default models with a local file copy. Either way the clone owns
    * its data's lifetime: VACUUMing the source can never dangle the
    * clone (links keep inodes alive; copies are independent objects) —
    * the guarantee Delta's shallow clones famously lack. */
  def shareFile(src: File, dst: File): Unit = {
    Files.copy(src.toPath, dst.toPath, StandardCopyOption.COPY_ATTRIBUTES)
    ()
  }
}

/** Local-filesystem backend: write a temp file in the same directory,
  * then hard-link it into the slot. link(2) is atomic put-if-absent
  * (EEXIST on a taken slot) and the content is complete before the
  * slot becomes visible — unlike move-without-replace, which the JDK
  * implements as a non-atomic stat-then-rename. Safe across PROCESSES
  * sharing the filesystem, not just threads. */
object LocalLinkBackend extends CommitBackend {
  override def putIfAbsent(slot: File, content: Array[Byte]): Boolean = {
    val dir = slot.getParentFile
    dir.mkdirs()
    val tmp = File.createTempFile(".commit", ".tmp", dir)
    try {
      Files.write(tmp.toPath, content)
      Files.createLink(slot.toPath, tmp.toPath)
      true
    } catch {
      case _: FileAlreadyExistsException => false
    } finally {
      tmp.delete(); ()
    }
  }

  /** Zero-copy clone: the linked file IS the same inode, so the clone
    * costs metadata only and survives source VACUUM by refcount. */
  override def shareFile(src: File, dst: File): Unit = {
    Files.createLink(dst.toPath, src.toPath)
    ()
  }
}

/** In-memory mock of an object store's conditional put: the atomic
  * claim is a ConcurrentHashMap putIfAbsent on the commit KEY (the
  * store's strong-consistency guarantee), and the winner then mirrors
  * the content to the local path so [[VersionedTableIO]]'s readers
  * work unchanged. Exists to prove the protocol depends on nothing
  * but [[CommitBackend.putIfAbsent]] semantics — VersionedTableSpec
  * runs the multi-session race against BOTH backends. Inherits the
  * object-store-honest [[CommitBackend.shareFile]] (server-side-copy
  * model): clones of a table on this backend copy objects rather
  * than pretending a link primitive exists. */
final class ConditionalPutBackend extends CommitBackend {
  private val claimed = new ConcurrentHashMap[String, Boolean]()

  override def putIfAbsent(slot: File, content: Array[Byte]): Boolean = {
    if (claimed.putIfAbsent(slot.getAbsolutePath, true) != null) return false
    // winner: materialize for readers. Write-then-link keeps the local
    // mirror crash-consistent too (a reader never sees a partial file).
    val dir = slot.getParentFile
    dir.mkdirs()
    val tmp = File.createTempFile(".commit", ".tmp", dir)
    Files.write(tmp.toPath, content)
    Files.createLink(slot.toPath, tmp.toPath)
    tmp.delete()
    true
  }
}

/** Conditional-put client against a [[graft.tools.CondPutStore]] —
  * the CROSS-PROCESS form of [[ConditionalPutBackend]]: the atomic
  * arbitration lives in a separate single-threaded store process
  * (exactly where it lives for S3: the service endpoint), so two
  * INDEPENDENT JVMs get real conditional-put semantics with no shared
  * memory and no reliance on link(2). The store durably materializes
  * the winner's content (the PUT); readers list/read the shared
  * filesystem (the LIST/GET analog). Used by the cross-process commit
  * race in VersionedTableSpec via [[graft.tools.CommitRaceCheck]]. */
final class RemoteCondPutBackend(host: String, port: Int)
    extends CommitBackend {
  override def putIfAbsent(slot: File, content: Array[Byte]): Boolean = {
    val sock = new java.net.Socket(host, port)
    try {
      val out = new java.io.DataOutputStream(
        new java.io.BufferedOutputStream(sock.getOutputStream))
      out.writeUTF(slot.getAbsolutePath)
      out.writeInt(content.length)
      out.write(content)
      out.flush()
      new java.io.DataInputStream(sock.getInputStream).readBoolean()
    } finally sock.close()
  }
}
