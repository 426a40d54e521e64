package graft.io

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.time.LocalDate
import java.time.format.DateTimeFormatter

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, struct, to_json}

import org.apache.commons.compress.compressors.bzip2.{BZip2CompressorInputStream, BZip2CompressorOutputStream}

/** K1 — dual-versioned compressed JSON artifact publish
  * (taar_utils.py:32-63: serialize → utf8 → bz2 → upload twice, once as
  * `{fname}.bz2` "latest" and once as the dated snapshot
  * `{fname}.{YYYYMMDD}.bz2`).
  *
  * Artifacts are SMALL by contract (whitelists, rankings — the outputs of
  * heavy distributed reductions), so a driver-side collect at the sink is
  * the correct scale design: everything before this point stays
  * distributed; the artifact itself is KBs.
  *
  * One primitive, [[publish]], runs ONE Spark action per call, however
  * many artifacts it writes: rows are serialized in the plan
  * (`to_json(struct(*))`), each sink's boolean columns ride along, and the
  * driver splits the collected rows into the sinks. A sorted input plans
  * as a single `TakeOrderedAndProject` job, so a job that fans one frame
  * out into several artifacts neither caches it nor re-runs it per sink.
  * [[writeRows]] and [[writeKeyedObject]] are its single-sink calls.
  *
  * Determinism: rows are serialized in the order of the incoming
  * DataFrame (callers sort), and both copies are written from the SAME
  * byte array, so latest == snapshot byte-for-byte.
  */
object JsonArtifact {

  private val DateFmt = DateTimeFormatter.ofPattern("yyyyMMdd")

  /** Row-count ceiling per artifact, overridable via
    * `graft.artifact.maxRows`. The "artifacts are small" contract is
    * ASSERTED, not assumed: an oversized artifact fails with a contract
    * error naming it instead of silently OOMing the driver. The guard
    * costs nothing extra — the collect of `k` sinks stops at
    * `k × max + 1` rows, and since every collected row belongs to some
    * sink, a truncated collect always leaves one sink over the ceiling. */
  val DefaultMaxRows = 1000000

  private def maxRows(df: DataFrame): Int =
    df.sparkSession.conf.getOption("graft.artifact.maxRows")
      .map(_.toInt).getOrElse(DefaultMaxRows)

  /** One artifact of a [[publish]] call: the rows for which every `when`
    * column is true (all rows when empty), written as jsonl or, with a
    * `keyCol`, as ONE keyed JSON object. */
  case class Sink(fname: String, keyCol: Option[String] = None, when: Seq[Column] = Nil)

  /** What [[publish]] wrote for one sink: the row count the guard checked
    * and the two copies. */
  case class Published(fname: String, rows: Int, latest: String, dated: String)

  /** The rows of one sink, collected and guarded but not yet written. */
  case class Collected(sink: Sink, lines: Seq[String]) {
    def rows: Int = lines.size

    def body: String = if (sink.keyCol.isEmpty) lines.mkString("\n") else lines.mkString("{", ", ", "}")

    def write(df: DataFrame, prefix: String, asOf: LocalDate): Published = {
      val (latest, dated) =
        writeBytes(df, body.getBytes(StandardCharsets.UTF_8), prefix, sink.fname, asOf)
      Published(sink.fname, rows, latest, dated)
    }
  }

  /** Collect every sink's rows of `df` with ONE action. Key and record
    * come from the same row, so a nondeterministic recompute can't mis-zip
    * them; a `when` column shared by several sinks is computed once. */
  def collect(df: DataFrame, sinks: Sink*): Seq[Collected] = {
    val max = maxRows(df)
    val keys = sinks.flatMap(_.keyCol).distinct
    val flags = sinks.flatMap(_.when).distinct
    val picked = if (sinks.exists(_.when.isEmpty)) df else df.where(flags.reduce(_ || _))
    val limit = math.min(sinks.size.toLong * max + 1, Int.MaxValue).toInt
    val rows = picked
      .select((to_json(struct(col("*"))) +: keys.map(k => col(k).cast("string"))) ++ flags: _*)
      .take(limit)
    sinks.map { s =>
      val need = s.when.map(c => 1 + keys.size + flags.indexOf(c))
      val keyAt = s.keyCol.map(k => 1 + keys.indexOf(k))
      val lines = rows.iterator
        .filter(r => need.forall(i => !r.isNullAt(i) && r.getBoolean(i)))
        .map(r => keyAt.fold(r.getString(0))(i => quote(r.getString(i)) + ": " + r.getString(0)))
        .toVector
      require(lines.size <= max,
        s"artifact '${s.fname}' exceeds the small-artifact contract: more than " +
          s"$max rows (graft.artifact.maxRows); artifacts are driver-collected " +
          "outputs of distributed reductions and must stay KB-scale")
      Collected(s, lines)
    }
  }

  /** [[collect]] + write both copies of every sink. Nothing is written
    * unless every sink passed the guard. */
  def publish(df: DataFrame, prefix: String, asOf: LocalDate, sinks: Sink*): Seq[Published] =
    collect(df, sinks: _*).map(_.write(df, prefix, asOf))

  /** Serialize each row as a JSON object (one per line, jsonl). */
  def writeRows(df: DataFrame, prefix: String, fname: String, asOf: LocalDate): (String, String) =
    paths(publish(df, prefix, asOf, Sink(fname)).head)

  /** Serialize a keyed collection as ONE JSON object {key: record, ...}
    * (the amodump / whitelist artifact shape, taar_amodump.py:304-307).
    * Key order = incoming row order (callers sort by key for determinism). */
  def writeKeyedObject(df: DataFrame, keyCol: String, prefix: String, fname: String,
      asOf: LocalDate): (String, String) =
    paths(publish(df, prefix, asOf, Sink(fname, Some(keyCol))).head)

  private def paths(p: Published): (String, String) = (p.latest, p.dated)

  private def quote(k: String): String =
    "\"" + k.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def writeBytes(df: DataFrame, bytes: Array[Byte], prefix: String,
      fname: String, asOf: LocalDate): (String, String) = {
    val compressed = bzip2(bytes)
    val fs = FileSystem.get(new java.net.URI(prefix),
      df.sparkSession.sparkContext.hadoopConfiguration)
    val latest = s"$prefix/$fname.bz2"
    val dated  = s"$prefix/$fname.${asOf.format(DateFmt)}.bz2"
    for (p <- Seq(latest, dated)) {
      val out = fs.create(new Path(p), true)
      try out.write(compressed) finally out.close()
    }
    (latest, dated)
  }

  def bzip2(bytes: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val bz = new BZip2CompressorOutputStream(bos)
    try bz.write(bytes) finally bz.close()
    bos.toByteArray
  }

  def readBzip2(path: String, df: DataFrame): Array[Byte] = {
    val fs = FileSystem.get(new java.net.URI(path),
      df.sparkSession.sparkContext.hadoopConfiguration)
    val in = new BZip2CompressorInputStream(fs.open(new Path(path)))
    try in.readAllBytes() finally in.close()
  }
}
