package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}

import graft.measures.Measures

/** Reference-format file sources (SURVEY §2.1 O1/O2/O15).
  *
  * Parse contract (StreamingJob.java:61-81): a line is 6 comma-separated
  * doubles; on ANY parse failure (wrong arity, non-numeric, incl. the R CSV
  * header) the line is silently dropped — never nulled, never failed.
  */
object Sources {
  val Weights: Seq[Double] = Seq(0.2, 0.2, 0.2, 0.15, 0.15, 0.1)

  /** Samples CSV → (a0..a5, seq). `seq` is the 1-based arrival order of
    * the VALID rows (dropped lines get no number), the reference's implicit
    * parallelism-1 contract (SURVEY §2.5 Q8).
    *
    * One narrow pass, no exchange: `spark.read.text` keeps the file
    * source's split sizing, each split's lines are parsed in plain Scala
    * ([[parseSample]]), and [[numbered]] turns per-split valid-row counts
    * into offsets, so the numbering runs in as many tasks as there are
    * splits. */
  def readSamplesCsv(spark: SparkSession, path: String): DataFrame = {
    val parsed = spark.read.text(path).queryExecution.toRdd
      .flatMap(r => parseSample(r.getUTF8String(0).toString))
      .map(a => Row(a(0), a(1), a(2), a(3), a(4), a(5)))
    numbered(spark, parsed,
      StructType((0 until 6).map(i => StructField(s"a$i", DoubleType))), "seq")
  }

  /** One samples line → its 6 doubles, or None to drop it. `split(",", 0)`
    * is Java's `String.split` (trailing empty strings removed), the
    * reference's parser, so a trailing-comma line still has 6 fields.
    * Each field parses as Spark's string → double cast does:
    * `parseDouble`, then the special literals of [[specialDouble]]. */
  private def parseSample(line: String): Option[Array[Double]] = {
    val parts = line.split(",", 0)
    if (parts.length != 6) return None
    val a = new Array[Double](6)
    var i = 0
    while (i < 6) {
      try a(i) = java.lang.Double.parseDouble(parts(i))
      catch {
        case _: NumberFormatException =>
          val d = specialDouble(parts(i))
          if (d.isEmpty) return None
          a(i) = d.get
      }
      i += 1
    }
    Some(a)
  }

  /** The spellings Spark's cast accepts where `parseDouble` does not
    * (`Cast.processFloatingPointSpecialLiterals`): trimmed, any case. */
  private def specialDouble(s: String): Option[Double] =
    s.trim.toLowerCase(java.util.Locale.ROOT) match {
      case "inf" | "+inf" | "infinity" | "+infinity" => Some(Double.PositiveInfinity)
      case "-inf" | "-infinity" => Some(Double.NegativeInfinity)
      case "nan" => Some(Double.NaN)
      case _ => None
    }

  /** `rows` (of `schema`) with a non-null 1-based IntegerType position
    * column `name` appended, in partition order: `zipWithIndex` counts the
    * rows of every partition but the last in one job (none for a single
    * partition) and numbers each partition from the sum of the counts
    * before it. Past `Int.MaxValue` rows it fails instead of wrapping. */
  private def numbered(spark: SparkSession, rows: RDD[Row], schema: StructType,
      name: String): DataFrame =
    spark.createDataFrame(
      rows.zipWithIndex().map { case (r, i) =>
        Row.fromSeq(r.toSeq :+ Math.toIntExact(i + 1))
      },
      schema.add(name, IntegerType, nullable = false))

  /** stats.csv (headerless, 6 rows × 7 doubles; psd.R:70) → unpivoted
    * (stat, assetNo, thr), broadcast-sized. Row order defines the measure
    * (psd.R:28-68); the SM2 row holds sjstats::gmd output — kept as data
    * (SURVEY §2.5 Q5). */
  def readStatsCsv(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.csv(path) // _c0.._c6 strings
    val withStat = numbered(spark, raw.rdd, raw.schema, "line")
    val statName = Measures.names.zipWithIndex.tail
      .foldLeft(when(col("line") === 1, Measures.names.head)) {
        case (acc, (n, i)) => acc.when(col("line") === i + 1, n)
      }
    val unpivot = (0 to 6).map(a =>
      struct(lit(a).as("assetNo"),
        col(s"_c$a").cast("double").as("thr")))
    withStat
      .select(statName.as("stat"), explode(array(unpivot: _*)).as("x"))
      .select(col("stat"), col("x.assetNo"), col("x.thr"))
  }

  /** Alert-log text parser (≙ postProcessing/load.py:15-26, P1): lines of
    * stringified tuples `(count,stat,assetNo,value)` → typed columns.
    * Malformed lines are dropped. The reference parser's last-character
    * truncation bug (SURVEY §2.5 Q10) is deliberately NOT replicated —
    * values parse in full. */
  def readAlertLog(spark: SparkSession, path: String): DataFrame = {
    // match first (rlike), extract after — every cast below is then safe
    // under ANSI mode, and non-matching lines are dropped, not nulled
    val pat = "^\\((\\d+),([^,]+),(\\d+),(-?\\d+(?:\\.\\d+)?(?:[eE][+-]?\\d+)?)\\)$"
    spark.read.text(path)
      .where(col("value").rlike(pat))
      .select(
        regexp_extract(col("value"), pat, 1).cast("int").as("count"),
        regexp_extract(col("value"), pat, 2).as("stat"),
        regexp_extract(col("value"), pat, 3).cast("int").as("assetNo"),
        regexp_extract(col("value"), pat, 4).cast("double").as("value"))
  }

  /** Alert-log text sink — the reference's output side of P1: Flink
    * `dataStream.print()` of `Tuple4<Integer,String,Integer,Double>`
    * (StreamingJob.java:432-440) renders one `(count,stat,assetNo,value)`
    * line per alert, which postProcessing/load.py re-parses. Doubles are
    * written with Spark's double→string cast (Java shortest round-trip
    * form), so [[readAlertLog]] recovers the exact bits — unlike the
    * reference's reader, which drops the tuple's last character
    * (SURVEY §2.5 Q10). Expects columns (count, stat, assetNo, value). */
  def writeAlertLog(alerts: DataFrame, path: String): Unit =
    alerts.select(concat(
        lit("("), col("count").cast("string"),
        lit(","), col("stat"),
        lit(","), col("assetNo").cast("string"),
        lit(","), col("value").cast("string"), lit(")")).as("value"))
      .write.mode("overwrite").text(path)

  /** JSONL corpus sink — one JSON object per line, the standard
    * interchange format for LLM training corpora (open-data pipelines
    * publish documents exactly this way: one line = one document with
    * id/text/metadata fields). `to_json` over the full row struct is
    * schema-driven and exact: strings escape losslessly (quotes,
    * backslashes, newlines, non-ASCII), longs print as JSON integers, so
    * [[readJsonl]] recovers the table bit-for-bit. A pure map stage into
    * the text sink — embarrassingly parallel, one output file per
    * partition at scale. */
  def writeJsonl(docs: DataFrame, path: String): Unit =
    docs.select(to_json(struct(docs.columns.map(col): _*)).as("value"))
      .write.mode("overwrite").text(path)

  /** JSONL corpus source with the reference splitter's drop-don't-fail
    * contract (O2, StreamingJob.java:67-77 — malformed input is dropped,
    * never nulled in, never fatal): a line that is not parseable JSON is
    * dropped (`from_json` → NULL struct), and a line missing any of
    * `requiredCols` — absent field, JSON null, or a value that does not
    * coerce to the declared type — is dropped too (PERMISSIVE coercion
    * nulls just that field; the required-column gate turns it into a
    * whole-line drop). The schema is EXPLICIT: corpus reads at 100 TB
    * must not pay (or trust) a sampling inference job, and a declared
    * schema is what keeps the parse a single codegen'd map stage. */
  def readJsonl(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType,
      requiredCols: Seq[String]): DataFrame =
    parseJsonl(spark.read.text(path), schema, requiredCols)

  /** Streaming [[readJsonl]] — the same parse/drop pipeline over
    * `readStream.text`, so an incremental ingest applies the identical
    * malformed-line contract as the batch reader (both are one
    * stateless codegen'd map + filter; curation map stages like
    * [[graft.text.Redact.redactPii]] and
    * [[graft.text.TextStats.gopherGates]] compose on top unchanged —
    * StreamingCurationSpec pins batch equality). */
  def readJsonlStream(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType,
      requiredCols: Seq[String]): DataFrame =
    parseJsonl(spark.readStream.text(path), schema, requiredCols)

  /** The shared JSONL parse/drop stage over a `value STRING` frame —
    * batch and streaming readers differ only in the text source. `lines`
    * is by-name so the requiredCols contract is checked before the
    * source is even opened (a bad caller gets the contract error, not a
    * path error). */
  private def parseJsonl(lines: => DataFrame,
      schema: org.apache.spark.sql.types.StructType,
      requiredCols: Seq[String]): DataFrame = {
    val bad = requiredCols.filterNot(schema.fieldNames.contains)
    require(bad.isEmpty, s"requiredCols not in schema: $bad")
    lines
      .select(from_json(col("value"), schema).as("d"))
      .where(requiredCols.foldLeft(col("d").isNotNull) {
        (acc, c) => acc && col(s"d.$c").isNotNull
      })
      .select(col("d.*"))
  }

  /** Adds the derived whole-portfolio series (StreamingJob.java:174-180) and
    * unpivots to (seq, assetNo 0..6, x) — series 6 is the portfolio. */
  def toSeries(samples: DataFrame): DataFrame = {
    val overall = Weights.zipWithIndex
      .map { case (w, i) => col(s"a$i") * w }
      .reduce(_ + _)
    val entries = (0 until 6).map(i =>
      struct(lit(i).as("assetNo"), col(s"a$i").as("x"))) :+
      struct(lit(6).as("assetNo"), overall.as("x"))
    samples.select(col("seq"), explode(array(entries: _*)).as("s"))
      .select(col("seq"), col("s.assetNo"), col("s.x"))
  }
}
