package lakebench

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.sources.{ManifestReader, ShardedLog, StreamIngest}
import graft.streaming.Deliver

/** A check on the program's output failed: the run prints no result. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** One delivery target: lake, checkpoint, DLQ, backup and manifest dirs. */
final case class Target(root: String) {
  val lake = s"$root/lake"
  val ck = s"$root/ck"
  val dlq = s"$root/dlq"
  val backup = s"$root/backup"
  val manifest = s"$root/manifest"
}

object Lake {
  val PayloadSchema: StructType = StructType(Seq(
    StructField("data", StructType(Seq(
      StructField("id", LongType), StructField("status", StringType),
      StructField("value", DoubleType), StructField("ts", TimestampType),
      StructField("event_id", LongType), StructField("batch", LongType)))),
    StructField("metadata", StructType(Seq(StructField("op", StringType))))))

  /** The production sink: one file per flush partition, manifest with zone
    * maps over id/ts/batch, id blooms, DLQ and raw backup.
    */
  def sinkConfig(t: Target, trigger: Trigger, manifestCompactEvery: Int): Deliver.Config =
    Deliver.Config(lakeDir = t.lake, checkpointDir = t.ck, errorDir = Some(t.dlq),
      backupDir = Some(t.backup), manifestDir = Some(t.manifest), trigger = trigger,
      compact = true, zoneMapCols = Seq("id", "ts", "batch"), bloomFilterCols = Seq("id"),
      manifestCompactEvery = manifestCompactEvery)

  def startDeliver(spark: SparkSession, log: String, t: Target, trigger: Trigger,
      maxRecordsPerTrigger: Option[Long] = None,
      manifestCompactEvery: Int = 10): StreamingQuery =
    Deliver.start(spark, StreamIngest.GraftLog(log, maxRecordsPerTrigger = maxRecordsPerTrigger),
      PayloadSchema, sinkConfig(t, trigger, manifestCompactEvery))

  /** Generated records as the envelope frame `GraftLog.append` takes. */
  def frame(spark: SparkSession, recs: Seq[Rec]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(recs.map(r =>
      Row("cdc-bench", r.shard, r.pk, r.seq, new java.sql.Timestamp(r.arrivalUs / 1000L),
        r.data)): _*), ShardedLog.schema)

  def fs(spark: SparkSession, dir: String): FileSystem =
    new HPath(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** Size of every data file the manifest lists. */
  def lakeFileBytes(spark: SparkSession, t: Target): Seq[Long] = {
    val f = fs(spark, t.lake)
    ManifestReader.latestManifestFiles(spark, t.manifest).map(u => f.getFileStatus(new HPath(u)).getLen)
  }

  /** Manifest files a reader resolves: the newest snapshot and the
    * incrementals after it.
    */
  def chainFiles(spark: SparkSession, t: Target): Int = {
    val Name = """manifest-(\d+)\.(snap\.json|snap\.pq|json)""".r
    val entries = fs(spark, t.manifest).listStatus(new HPath(t.manifest)).toSeq
      .map(_.getPath.getName).collect { case Name(id, kind) => (id.toLong, kind != "json") }
    val snap = entries.filter(_._2).map(_._1).maxOption
    snap.size + entries.count(e => !e._2 && snap.forall(e._1 > _))
  }

  private def seqSums(df: DataFrame): (Long, Long, Long, Long) = {
    val r = df.agg(count(lit(1)),
      countDistinct(col("partition_key"), col("sequence_number")),
      coalesce(sum(col("sequence_number").cast("long")), lit(0L)),
      coalesce(sum(pmod(col("sequence_number").cast("long"), lit(1000003L)) *
        length(col("partition_key"))), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  private def expectSums(recs: Seq[Rec]): (Long, Long, Long, Long) =
    (recs.size.toLong, recs.size.toLong, recs.map(_.seq.toLong).sum,
      recs.map(r => (r.seq.toLong % 1000003L) * r.pk.length).sum)

  /** Exactly-once (over the lake directory and over the files its manifest
    * lists, which is what every SQL reader reads), DLQ completeness and
    * per-key order, against the truth.
    */
  def checkDelivery(spark: SparkSession, t: Target, truth: Truth, what: String): Unit = {
    val lake = spark.read.parquet(t.lake)
    val got = seqSums(lake)
    val want = expectSums(truth.valid)
    if (got != want) throw new CheckFailed(s"exactly-once ($what): lake " +
      s"(rows, distinct keys, seq sums) = $got, generated valid records give $want")
    val listed = ManifestReader.latestManifestFiles(spark, t.manifest)
    val viaManifest = if (listed.isEmpty) (0L, 0L, 0L, 0L) else seqSums(spark.read.parquet(listed: _*))
    if (viaManifest != want) throw new CheckFailed(s"exactly-once via manifest ($what): the " +
      s"${listed.size} manifest-listed files hold (rows, distinct keys, seq sums) = $viaManifest, " +
      s"generated valid records give $want")
    val dlq = if (parquetFiles(spark, t.dlq) > 0) seqSums(spark.read.parquet(t.dlq))
      else (0L, 0L, 0L, 0L)
    val wantDlq = expectSums(truth.malformed)
    if (dlq != wantDlq) throw new CheckFailed(s"dlq ($what): DLQ (rows, distinct keys, " +
      s"seq sums) = $dlq, generated malformed records give $wantDlq")
    val viol = graft.audit.Audit.orderingViolations(lake, "partition_key",
      "sequence_number", "ts").count()
    if (viol != 0) throw new CheckFailed(s"ordering ($what): Audit.orderingViolations = $viol")
  }

  def parquetFiles(spark: SparkSession, dir: String): Int = {
    val f = fs(spark, dir)
    if (!f.exists(new HPath(dir))) 0
    else {
      val it = f.listFiles(new HPath(dir), true)
      var n = 0
      while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      n
    }
  }

  /** Bytes under a directory. */
  def du(spark: SparkSession, dir: String): Long =
    fs(spark, dir).getContentSummary(new HPath(dir)).getLength

  /** Delete a lake file the manifest lists (self-test corruption). */
  def deleteOneLakeFile(spark: SparkSession, t: Target): Unit = {
    fs(spark, t.lake).delete(new HPath(ManifestReader.latestManifestFiles(spark, t.manifest).head), false)
    ()
  }

  /** Drop the first entry of the newest incremental manifest (self-test
    * corruption): the lake directory stays whole, readers miss one file.
    */
  def dropOneManifestEntry(spark: SparkSession, t: Target): Unit = {
    val f = fs(spark, t.manifest)
    val Name = """manifest-(\d+)\.json""".r
    val newest = f.listStatus(new HPath(t.manifest)).toSeq.map(_.getPath)
      .flatMap(p => p.getName match { case Name(id) => Some(id.toLong -> p); case _ => None })
      .maxBy(_._1)._2
    val in = f.open(newest)
    val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
    val cut = """\{"url": "[^"]+", "mandatory": true\},?""".r.replaceFirstIn(text, "")
    require(cut != text, s"no manifest entry in $newest")
    val out = f.create(newest, true)
    try out.write(cut.getBytes(UTF_8)) finally out.close()
  }

  def rm(spark: SparkSession, dir: String): Unit = { fs(spark, dir).delete(new HPath(dir), true); () }
}
