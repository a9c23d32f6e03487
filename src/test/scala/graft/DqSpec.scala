package graft

import graft.dq._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DqSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val at = "2026-01-01 00:00:00"

  private def frame = Seq(
    (1L, "ok", 10.0), (2L, null, -5.0), (3L, "  ", 20.0), (4L, "ok", -1.0))
    .toDF("id", "name", "amount")

  test("completeness: null + blank both violate; PASS when clean") {
    val cfg = MandatoryColumnConfig(1, "s", "t", Seq("name"), Seq("id"))
    val r = AuditExecutor.runRule(frame, cfg, at).first()
    assert(r.getAs[Int]("nr_status") === AuditStatus.Fail)
    assert(r.getAs[String]("ds_checked_value") ===
      """{"n_violations":2,"pk_sample":["2","3"]}""")
    val clean = AuditExecutor.runRule(
      frame.filter(col("id").isin(1L, 4L)), cfg, at).first()
    assert(clean.getAs[Int]("nr_status") === AuditStatus.Pass)
  }

  test("validity rule + additionalFilter scope") {
    val cfg = ValidityConfig(2, "s", "t", "amount < 0", Seq("id"),
      additionalFilter = Some("id > 2"))
    val r = AuditExecutor.runRule(frame, cfg, at).first()
    // id=2 violates the rule but is outside the filter scope
    assert(r.getAs[String]("ds_checked_value") ===
      """{"n_violations":1,"pk_sample":["4"]}""")
  }

  test("sample cap bounds the pk list, count stays exact") {
    val big = spark.range(100).toDF("id").withColumn("name", lit(null: String))
    val cfg = MandatoryColumnConfig(3, "s", "t", Seq("name"), Seq("id"))
    val r = AuditExecutor.runRule(big, cfg, at, sampleCap = 7).first()
    val parsed = spark.range(1).select(
      from_json(lit(r.getAs[String]("ds_checked_value")),
        org.apache.spark.sql.types.DataType.fromDDL(
          "STRUCT<n_violations: BIGINT, pk_sample: ARRAY<STRING>>")).as("c"))
      .select("c.n_violations", "c.pk_sample").first()
    assert(parsed.getLong(0) === 100L)
    assert(parsed.getSeq[String](1).size === 7)
  }

  test("broken rule → ERROR row, good rules still evaluated") {
    val cfgs = Seq(
      ValidityConfig(4, "s", "t", "amount < 0", Seq("id")),
      ValidityConfig(5, "s", "t", "ghost_column = 1", Seq("id")))
    val rows = AuditExecutor.runRulesSafe(frame, cfgs, at)
      .orderBy("cd_configuration").collect()
    assert(rows.map(_.getAs[Int]("nr_status")).toSeq ===
      Seq(AuditStatus.Fail, AuditStatus.Error))
  }

  test("multi-rule single-scan agrees with per-rule runs") {
    val cfgs = Seq(
      MandatoryColumnConfig(1, "s", "t", Seq("name"), Seq("id")),
      ValidityConfig(2, "s", "t", "amount < 0", Seq("id")))
    val once = AuditExecutor.runRules(frame, cfgs, at)
      .select("cd_configuration", "ds_checked_value", "nr_status")
      .orderBy("cd_configuration").collect().toSeq
    val separate = cfgs.map(c => AuditExecutor.runRule(frame, c, at)
      .select("cd_configuration", "ds_checked_value", "nr_status").first())
    assert(once === separate)
  }

  test("fact builder explodes pk samples, keeps PASS/ERROR rows with null pk") {
    val cfgs = Seq(
      MandatoryColumnConfig(1, "s", "t", Seq("name"), Seq("id")),
      ValidityConfig(6, "s", "t", "amount > 100", Seq("id")))
    val facts = FactBuilder.violations(AuditExecutor.runRules(frame, cfgs, at))
    val byCfg = facts.groupBy("cd_configuration")
      .agg(count(lit(1)).as("n"),
        sum(when(col("violated_pk").isNull, 1).otherwise(0)).as("nulls"))
      .orderBy("cd_configuration").collect()
    assert(byCfg(0).getLong(1) === 2L && byCfg(0).getLong(2) === 0L) // 2 violations
    assert(byCfg(1).getLong(1) === 1L && byCfg(1).getLong(2) === 1L) // PASS row
    val labels = facts.select("status_label").distinct()
      .as[String].collect().sorted
    assert(labels.toSeq === Seq("FAIL", "PASS"))
  }

  test("alert renderer caps preview and emits failure rows only") {
    val big = spark.range(20).toDF("id").withColumn("name", lit(null: String))
    val cfgs = Seq(MandatoryColumnConfig(1, "s", "t", Seq("name"), Seq("id")))
    val facts = FactBuilder.violations(AuditExecutor.runRules(big, cfgs, at))
    val preview = AlertRenderer.failurePreview(facts, previewRows = 5)
    assert(preview.count() === 5)
    val html = AlertRenderer.renderHtml(preview)
    assert(html.contains("<table") && html.contains("completeness_mandatory"))
  }

  test("full report: multi-dimension sections, caps, escaping, sinks") {
    // two dimensions, three configs; config 1 has 20 violations (preview
    // must cap at 5, attachment must carry all sampled pks); rule text
    // carries markup that must be escaped
    val big = spark.range(20).toDF("id").withColumn("name", lit(null: String))
      .withColumn("amount", lit(-1.0))
    val cfgs = Seq(
      MandatoryColumnConfig(1, "s", "t_users", Seq("name"), Seq("id")),
      ValidityConfig(2, "s", "t_users", "amount < 0 OR name = '<x>'", Seq("id")),
      ValidityConfig(3, "s", "t_orders", "amount < 0", Seq("id")))
    val facts = FactBuilder.violations(AuditExecutor.runRules(big, cfgs, at))
    val report = AlertRenderer.renderReport(facts, previewRows = 5,
      generatedAt = "2026-01-01 00:00:00")

    assert(report.totalViolations === 60L) // 3 configs × 20 rows
    assert(report.configCount === 3L)
    assert(report.dimensionCount === 2L) // completeness + validity
    assert(report.subject.contains("60 failed audits across 3 configurations"))
    // preview: capped with note; attachment: all sampled pks, no note
    assert(report.body.contains("showing first 5"))
    assert(!report.attachment.contains("showing first"))
    // one <tr><td> per sampled pk (headers use <th>): 3 configs × 20
    assert(report.attachment.split("<tr><td>", -1).length - 1 === 3 * 20)
    // escaping: the rule's markup must not survive as tags
    assert(!report.body.contains("<x>") && report.body.contains("&lt;x&gt;"))
    assert(report.body.contains("s.t_users") && report.body.contains("s.t_orders"))

    val mem = new InMemoryAlertSink
    mem.send(report)
    assert(mem.sent === Seq(report))

    val dir = java.nio.file.Files.createTempDirectory("graft_alert").toString
    new FileAlertSink(dir).send(report)
    val attached = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, report.attachmentName)), "UTF-8")
    assert(attached === report.attachment)

    var mail: String = null
    new SmtpAlertSink("dq@example.com", Seq("team@example.com"),
      transport = m => mail = m).send(report)
    assert(mail.contains("Subject: " + report.subject))
    assert(mail.contains("Content-Disposition: attachment"))
    assert(mail.contains(report.attachmentName))
  }

  test("full report in one job: pks keep sort_array's UTF-8 order, a " +
      "null-pk ERROR row keeps its section") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // U+1F600 (a surrogate pair) sorts below U+E000 and U+FFFD in
    // String.compareTo's UTF-16 order and above them in UTF-8's
    val pks = Seq("b", "B", "a", "A", "\uE000x", "\uD83D\uDE00", "Z",
      "\uFFFDy", "aa")
    val schema = new StructType().add("cd_configuration", LongType)
      .add("ds_dimension", StringType).add("schema_name", StringType)
      .add("table_name", StringType).add("rule", StringType)
      .add("n_violations", LongType).add("nr_status", IntegerType)
      .add("violated_pk", StringType)
    val rows = pks.map(pk => Row(7L, "validity", "s", "t", "v > 0",
      pks.size.toLong, AuditStatus.Fail, pk)) ++ Seq(
      Row(3L, "completeness", "s", "t", "broken", null, AuditStatus.Error,
        null),
      Row(5L, "completeness", "s", "t", "ok", 0L, AuditStatus.Pass, null))
    val facts = spark.createDataFrame(spark.sparkContext.parallelize(rows),
      schema)
    val want = facts.filter(col("cd_configuration") === 7L)
      .agg(sort_array(collect_list(col("violated_pk")))).head()
      .getSeq[String](0)
    assert(want !== pks.sorted, "the case must tell UTF-8 from UTF-16")
    var report: AlertRenderer.AlertReport = null
    val jobs = JobLog.during(spark) {
      report = AlertRenderer.renderReport(facts, previewRows = 100)
    }
    assert(jobs.size === 1, jobs.map(_.site))
    assert(report.configCount === 2L && report.dimensionCount === 2L)
    assert(report.totalViolations === pks.size.toLong)
    val shown = "<tr><td>(.*?)</td></tr>".r
      .findAllMatchIn(report.attachment).map(_.group(1)).toSeq
    assert(shown === want)
    // completeness (the ERROR config, no pks) comes before validity
    val configs = "Configuration #(\\d+)".r
      .findAllMatchIn(report.attachment).map(_.group(1)).toSeq
    assert(configs === Seq("3", "7"))
    assert(report.attachment.contains("Rule: broken<br>\nTotal Violations: " +
      "<span class=\"violation-count\">0</span>"))
  }

  test("smtp round-trip: the assembled MIME message survives a real " +
    "socket SMTP session byte for byte") {
    // a report whose body exercises dot-stuffing (a CRLF line starting
    // with '.') and non-ASCII content
    val report = AlertRenderer.AlertReport(
      subject = "dq: 2 failed audits",
      body = "<html>line1\r\n.starts-with-dot\r\nüñïçødé</html>",
      attachmentName = "full_report.html",
      attachment = "<html>full</html>",
      totalViolations = 2L, configCount = 1L, dimensionCount = 1L)

    // dumb in-test SMTP server: one connection, canned replies, captures
    // the envelope and the dot-unstuffed DATA payload
    val server = new java.net.ServerSocket(0)
    val received = new java.util.concurrent.LinkedBlockingQueue[(Seq[String], String)]()
    val t = new Thread(() => {
      val s = server.accept()
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(s.getInputStream, "UTF-8"))
      val out = new java.io.OutputStreamWriter(s.getOutputStream, "UTF-8")
      def reply(r: String): Unit = { out.write(r + "\r\n"); out.flush() }
      reply("220 test ESMTP")
      val envelope = scala.collection.mutable.ListBuffer.empty[String]
      val body = new StringBuilder
      var inData = false
      var line = in.readLine()
      while (line != null) {
        if (inData) {
          if (line == ".") { inData = false; reply("250 OK: queued") }
          else body.append(
            if (line.startsWith("..")) line.substring(1) else line)
            .append("\r\n")
        } else line.split(" ", 2).head.toUpperCase match {
          case "HELO" => reply("250 test")
          case "MAIL" | "RCPT" => envelope += line; reply("250 OK")
          case "DATA" => inData = true; reply("354 go ahead")
          case "QUIT" => reply("221 bye"); line = null
          case _ => reply("250 OK")
        }
        if (line != null) line = in.readLine()
      }
      received.put((envelope.toList, body.toString))
      s.close()
    })
    t.start()

    var assembled: String = null
    new SmtpAlertSink("dq@example.com",
      Seq("team@example.com", "oncall@example.com"),
      transport = m => {
        assembled = m
        SmtpTransport.send("127.0.0.1", server.getLocalPort,
          "dq@example.com", Seq("team@example.com", "oncall@example.com"), m)
      }).send(report)
    t.join(10000)
    server.close()

    val (envelope, body) = received.poll()
    assert(envelope === Seq(
      "MAIL FROM:<dq@example.com>",
      "RCPT TO:<team@example.com>",
      "RCPT TO:<oncall@example.com>"))
    // the wire payload, dot-unstuffed, is the assembled message exactly
    assert(body === assembled + "\r\n")
    assert(body.contains(".starts-with-dot") && body.contains("üñïçødé"))
  }

  test("result ids are deterministic across reruns") {
    val cfg = MandatoryColumnConfig(1, "s", "t", Seq("name"), Seq("id"))
    val a = AuditExecutor.runRule(frame, cfg, at).first().getString(0)
    val b = AuditExecutor.runRule(frame, cfg, at).first().getString(0)
    assert(a === b && a.length === 64)
  }

  // ---- Profile -------------------------------------------------------

  test("profile: per-column nulls/distinct/min-max exact; deployment " +
    "mode is Expand-free and its estimate lands near the exact count") {
    val df = graft.core.Tables.load(spark, SparkTestSession.sfDir, "orders")
    val ex = Profile.profile(df).collect()
      .map(r => r.getString(0) -> r).toMap
    val key = ex("o_orderkey")
    assert(key.getAs[Long]("n_nulls") === 0L)
    assert(key.getAs[Long]("n_distinct") === key.getAs[Long]("n_rows"),
      "o_orderkey is the PK: distinct must equal rows")
    assert(ex("o_orderstatus").getAs[String]("min_str") !== null)
    assert(ex("o_orderdate").getAs[Double]("min_num") > 0.0,
      "timestamp columns profile on the micros axis")
    assert(ex.values.forall(_.getAs[Boolean]("sketch_ok")),
      "every HLL estimate must land within 5% of exact")
    // deployment mode: no exact distinct => no Expand in the plan —
    // the whole profile is one scan + a 1-row reduce
    val est = Profile.profile(df, exact = false)
    val plan = est.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"),
      s"exact=false must not Expand the scan:\n$plan")
    val estKey = est.collect().map(r => r.getString(0) -> r).toMap
    val approx = estKey("o_orderkey").getAs[Long]("n_distinct").toDouble
    val exact = key.getAs[Long]("n_distinct").toDouble
    assert(math.abs(approx - exact) <= exact * 0.05)
    assert(estKey("o_orderkey").isNullAt(
      estKey("o_orderkey").fieldIndex("sketch_ok")),
      "no verdict without an exact count")
  }

  test("profile exact mode: no Expand, no SortAggregate — per-column " +
    "pruned hash-agg passes, not the ×(N+1) expanded sort") {
    // the round-10 sf10 gate measured the multi-countDistinct Expand
    // plan at 40+ min on 15M rows where the pruned per-column passes
    // take seconds; exact mode must never regress to Expand
    val df = graft.core.Tables.load(spark, SparkTestSession.sfDir, "orders")
    val plan = Profile.profile(df).queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"),
      s"exact mode must not Expand the full-width scan:\n$plan")
    // keyless SortAggregate (the shared min/max/HLL fold — string agg
    // buffers force it, and with key=[] it sorts nothing) is fine;
    // what must never appear is the Expand-fed KEYED sort agg. Every
    // count(distinct) pass must be an ordinary hash aggregate.
    assert("HashAggregate[^\\n]*count\\(distinct".r
        .findAllIn(plan).size >= df.schema.size,
      s"each column's exact distinct must be its own hash-agg pass:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"the <=N-row exact frame must broadcast onto the profile:\n$plan")
  }

  // ---- Quantiles ------------------------------------------------------

  test("exactQuantiles equals the naive sorted index (ties, p=1.0 " +
    "boundary, single-value degeneracy); sketch verdict holds") {
    import graft.scale.Quantiles
    import spark.implicits._
    // duplicates straddling a target index + a skewed tail
    val vals = Seq(5.0, 1.0, 3.0, 3.0, 3.0, 2.0, 8.0, 13.0, 21.0, 1.0)
    val df = vals.toDF("x")
    val ps = Seq(0.25, 0.5, 0.75, 1.0)
    val out = Quantiles.exactQuantiles(df, "x", ps, bins = 4)
      .collect().map(r => r.getDouble(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    val sorted = vals.sorted
    ps.foreach { p =>
      val idx = math.ceil(p * vals.length).toLong
      assert(out(p)._1 === idx, s"p=$p index")
      assert(out(p)._2 === sorted((idx - 1).toInt), s"p=$p value")
      assert(out(p)._3, s"p=$p sketch verdict")
    }
    // all-equal values collapse to one bin and still answer
    val const = Quantiles.exactQuantiles(
      Seq.fill(7)(4.2).toDF("x"), "x", Seq(0.5), bins = 8).collect()
    assert(const.length === 1 && const(0).getDouble(2) === 4.2)
  }

  test("exactQuantiles plan: rank window partitions by value bin; only " +
    "target-bearing bins are ranked; corpus never funnels") {
    import graft.scale.Quantiles
    val df = graft.core.Tables.load(spark, SparkTestSession.sfDir, "orders")
    val plan = Quantiles.exactQuantiles(df, "o_totalprice",
      Seq(0.25, 0.5, 0.75, 0.95)).queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(__bin"),
      s"the rank window must partition by value bin:\n$plan")
    // the tiny frames (1-row stats+sketch reduce, ≤bins-row offset
    // window, ≤|ps|-row targets/verdicts) print once per consumer
    // branch pre-materialization (the q181 AQE-printing note in
    // PLANS.md), so the SinglePartition count is bounded but >3;
    // every one sits above a partial aggregate — the 8-byte value
    // stream itself only ever exchanges on __bin
    val single = "Exchange SinglePartition".r.findAllIn(plan).size
    assert(single <= 8, s"corpus must not funnel to one partition:\n$plan")
    assert(!plan.contains("hashpartitioning(__v"),
      s"the value stream must never re-key on the value itself:\n$plan")
  }

  test("exactQuantilesBy: per-group answers equal the naive per-group " +
    "sorted index; groups are independent") {
    import graft.scale.Quantiles
    import spark.implicits._
    val df = (Seq.tabulate(9)(i => ("a", (i + 1).toDouble)) ++
      Seq(("b", 10.0), ("b", 30.0), ("b", 20.0))).toDF("g", "x")
    val out = Quantiles.exactQuantilesBy(df, "g", "x", Seq(0.5, 1.0),
      bins = 4).collect()
      .map(r => (r.getString(0), r.getDouble(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out(("a", 0.5)) === ((5L, 5.0)))   // ceil(.5*9)=5 -> 5.0
    assert(out(("a", 1.0)) === ((9L, 9.0)))
    assert(out(("b", 0.5)) === ((2L, 20.0)))  // ceil(.5*3)=2 -> 20.0
    assert(out(("b", 1.0)) === ((3L, 30.0)))
    // grouped plan: every window keyed by group (+bin), zero
    // SinglePartition moves anywhere
    val plan = Quantiles.exactQuantilesBy(df, "g", "x", Seq(0.5))
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(g"),
      s"windows must be keyed by group:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"grouped form needs NO single-partition move:\n$plan")
  }
}
