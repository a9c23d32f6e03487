package graft.dq

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Renders the latest-run failure summary as HTML
  * (005_send_alert_hourly.py:122-221 / email_html_generator.py) —
  * string templating only; the SMTP transport is a pluggable effect
  * outside the engine (not reproduced, per SURVEY §2.11).
  */
object AlertRenderer {

  /** Per-config preview capped at `previewRows` (W4: partitioned
    * row_number ≤ 5, 005:134-147). Single pass, count computed once —
    * the reference recounts per render (anti-pattern §4.2). */
  def failurePreview(violations: DataFrame, previewRows: Int = 5): DataFrame = {
    val w = Window.partitionBy(col("cd_configuration"))
      .orderBy(col("violated_pk").asc_nulls_last)
    violations
      .filter(col("nr_status") =!= AuditStatus.Pass)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= previewRows)
      .drop("rn")
  }

  /** Entity-escape — rule texts like "high < low" and arbitrary PK
    * values would otherwise inject markup into the alert email. */
  private def esc(s: String): String =
    if (s == null) "—"
    else s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  /** A fully rendered alert: email body (summary + capped per-config
    * preview) plus the standalone full-report attachment — the
    * reference's email_html_generator.py:4-314 capability as pure
    * values, with delivery behind [[AlertSink]]. */
  final case class AlertReport(
      subject: String, body: String,
      attachmentName: String, attachment: String,
      totalViolations: Long, configCount: Long, dimensionCount: Long)

  /** One config's grouped failure block; `pks` is the FULL sampled pk
    * list — render-time caps (preview rows, attachment budget) are
    * applied per rendering, never to the shared data. */
  private final case class Section(
      dimension: String, config: Long, schemaName: String,
      tableName: String, rule: String, total: Long, pks: Seq[String])

  private def sectionHtml(s: Section, cap: Int): String = {
    val shown = s.pks.take(math.max(0, cap))
    val note = if (s.total > shown.size) s" (showing first ${shown.size})" else ""
    val rows = shown.map(pk => s"<tr><td>${esc(pk)}</td></tr>").mkString("\n")
    s"""<div class="config-section">
       |<h3>Dimension: ${esc(s.dimension)}</h3>
       |<div class="config-info">Configuration #${s.config}<br>
       |Table: ${esc(s.schemaName)}.${esc(s.tableName)}<br>
       |Rule: ${esc(s.rule)}<br>
       |Total Violations: <span class="violation-count">${s.total}</span>$note</div>
       |<table class="audit-table"><tr><th>violated pk</th></tr>
       |$rows
       |</table></div>""".stripMargin
  }

  /** Spark's string order: unsigned UTF-8 bytes (code point order),
    * which `String.compareTo`'s UTF-16 order breaks for supplementary
    * characters against U+E000-U+FFFF. */
  private val Utf8: Ordering[String] = Ordering.by(
    (_: String).getBytes(java.nio.charset.StandardCharsets.UTF_8))(
    (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.compareUnsigned(a, b))

  /** Build the full alert (email body + attachment) from the violation
    * fact frame in ONE Spark job: the failing fact rows are collected
    * as they are (already a capped SAMPLE per config, so the driver
    * holds at most configs × sample cap rows, as a grouped collect
    * would) and grouped on the driver: sections in (dimension, config)
    * order, nulls first, each section's non-null pks in `sort_array`'s
    * order. `generatedAt` is caller-supplied so rendering is
    * deterministic/testable — stamping wall-clock time inside would
    * make the report unreproducible. */
  def renderReport(violations: DataFrame, previewRows: Int = 5,
      maxAttachmentRows: Int = 10000,
      generatedAt: String = ""): AlertReport = {
    val failing = violations
      .filter(col("nr_status") =!= AuditStatus.Pass)
      .select("ds_dimension", "cd_configuration", "schema_name",
        "table_name", "rule", "n_violations", "violated_pk")
      .collect()
    // a null config or count reads 0, as Row.getAs[Long] gives it
    def long(v: Any): Long = Option(v).fold(0L)(_.asInstanceOf[Long])
    val sections = failing.toSeq.groupBy(r => (0 until 6).map(r.get)).toSeq
      .sortBy { case (k, _) =>
        (Option(k(0).asInstanceOf[String]), Option(k(1)).map(long))
      }(Ordering.Tuple2(Ordering.Option(Utf8),
        Ordering.Option(Ordering.Long)))
      .map { case (k, rows) =>
        Section(k(0).asInstanceOf[String], long(k(1)),
          k(2).asInstanceOf[String], k(3).asInstanceOf[String],
          k(4).asInstanceOf[String], long(k(5)),
          rows.flatMap(r => Option(r.getString(6))).sorted(Utf8).toList)
      }
    val totalViolations = sections.map(_.total).sum
    val configCount = sections.size.toLong
    val dimensionCount = sections.map(_.dimension).distinct.size.toLong
    val attachmentName = "data_audit_report.html"
    val summary =
      s"""<div class="summary"><strong>Summary:</strong><ul>
         |<li>Total Failed Audits: $totalViolations</li>
         |<li>Configurations with Issues: $configCount</li>
         |<li>Dimensions Affected: $dimensionCount</li>
         |<li>Alert Time: ${esc(generatedAt)}</li></ul></div>""".stripMargin
    val body =
      s"""<html><body><h2>Data Quality Alert</h2>
         |$summary
         |<h3>Failed Audits by Configuration (Preview - Max $previewRows per config):</h3>
         |${sections.map(sectionHtml(_, previewRows)).mkString("\n")}
         |<div class="notice">Showing maximum $previewRows violations per
         |configuration. Open the attached $attachmentName for the full report.</div>
         |</body></html>""".stripMargin
    // the attachment budget bounds driver-side output size; it caps each
    // section's rendered rows with a running budget but NEVER the email
    // preview, which always shows up to previewRows per config
    val attachmentSections = {
      var budget = maxAttachmentRows
      sections.map { s =>
        val html = sectionHtml(s, budget)
        budget -= math.min(s.pks.size, math.max(0, budget))
        html
      }
    }
    val attachment =
      s"""<!DOCTYPE html><html><head><meta charset="UTF-8">
         |<title>Data Quality Audit Report</title></head><body>
         |<h1>Data Quality Audit Report</h1>
         |<div class="info"><ul><li>Total Failed Audits: $totalViolations</li>
         |<li>Configurations with Issues: $configCount</li>
         |<li>Generated: ${esc(generatedAt)}</li></ul></div>
         |${attachmentSections.mkString("\n")}
         |</body></html>""".stripMargin
    AlertReport(
      subject = s"[Data Quality] $totalViolations failed audits across " +
        s"$configCount configurations",
      body = body, attachmentName = attachmentName, attachment = attachment,
      totalViolations = totalViolations, configCount = configCount,
      dimensionCount = dimensionCount)
  }

  def renderHtml(preview: DataFrame): String = {
    val rows = preview
      .orderBy(col("ds_dimension"), col("cd_configuration"),
        col("violated_pk").asc_nulls_last)
      .collect()
    val body = rows.map { r: Row =>
      s"<tr><td>${esc(r.getAs[String]("ds_dimension"))}</td>" +
        s"<td>${r.getAs[Long]("cd_configuration")}</td>" +
        s"<td>${esc(r.getAs[String]("table_name"))}</td>" +
        s"<td>${esc(r.getAs[String]("rule"))}</td>" +
        s"<td>${r.getAs[Long]("n_violations")}</td>" +
        s"<td>${esc(r.getAs[String]("violated_pk"))}</td></tr>"
    }.mkString("\n")
    s"""<html><body><h2>Data audit failures</h2>
       |<table border="1">
       |<tr><th>dimension</th><th>config</th><th>table</th><th>rule</th>
       |<th>violations</th><th>sample pk</th></tr>
       |$body
       |</table></body></html>""".stripMargin
  }
}
