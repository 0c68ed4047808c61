package lakebench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}
import graft.operators.PqIndex
import Stats._

/** ann_serve: a closed loop with one client. Set-up builds an IVF-PQ index
  * over a seeded, clustered corpus; the timed loop serves fixed-size query
  * batches through `PqIndex.pqIvfQuery`. The only workload that enters the
  * operators layer.
  */
final class AnnServe(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val n = if (ctx.tiny) 2000 else 6000
  private val perBatch = 16
  private val k = 10
  private val warmSeconds = if (ctx.tiny) 0.0 else 10.0
  private val vg = new VecGen(ctx.seed)
  private val corpus = vg.vectors(n, sigma = 0.3)
  private val truthCorpus =
    if (ctx.corrupt == "truth") corpus.map(v => v.map(_ * -1.0)) else corpus
  /** (id column, embedding) rows as a frame. */
  private def vectors(idCol: String, ids: Seq[Long], vs: Seq[Array[Double]]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(ids.indices.map(i => Row(ids(i), vs(i).toSeq)): _*),
      StructType(Seq(StructField(idCol, LongType), StructField("embedding", ArrayType(DoubleType)))))
  private val corpusDf = vectors("id", corpus.indices.map(_.toLong), corpus.toSeq)
  private var dir = ""

  def setupRound(i: Int): Unit = {
    dir = s"${ctx.work}/ann/index-$i"
    ctx.span("PqIndex.buildPqIvfIndex")(PqIndex.buildPqIvfIndex(corpusDf, dir, dim = vg.dim))
  }

  private var nextQid = 0L
  private val batchMs = mutable.ArrayBuffer[Double]()
  private val served = mutable.ArrayBuffer[(Array[Double], Seq[Long])]()

  private def serve(out: Outcome): Unit = {
    val qs = vg.vectors(perBatch, sigma = 0.3)
    val ids = qs.indices.map(_ + nextQid)
    nextQid += perBatch
    val qdf = vectors("qid", ids, qs.toSeq)
    val (rows, ms) = timeMs {
      val df = ctx.span("PqIndex.serve_plan")(PqIndex.pqIvfQuery(qdf, dir, k))
      ctx.span("PqIndex.serve_exec")(df.select(col("qid"), col("nid"), col("sim")).collect())
    }
    out.attempted += 1
    batchMs += ms
    val byQ = rows.groupBy(_.getLong(0))
    qs.indices.foreach { i =>
      val got = byQ.getOrElse(ids(i), Array.empty).sortBy(r => (-r.getDouble(2), r.getLong(1)))
      val nids = got.map(_.getLong(1)).toSeq
      if (nids.size != k || nids.distinct.size != k || nids.exists(x => x < 0 || x >= n))
        throw new CheckFailed(s"ann answer: query ${ids(i)} got neighbours $nids, want $k distinct corpus ids")
      got.foreach { r =>
        val exact = VecGen.cosine(qs(i), truthCorpus(r.getLong(1).toInt))
        if (math.abs(exact - r.getDouble(2)) > 1e-6)
          throw new CheckFailed(s"ann answer: query ${ids(i)} neighbour ${r.getLong(1)} " +
            s"similarity ${r.getDouble(2)}, exact cosine $exact")
      }
      served += ((qs(i), nids))
    }
  }

  /** Serve for `warmSeconds` before timing: batch latency keeps falling
    * for tens of seconds while the JVM compiles the serve path.
    */
  override def warm(): Unit = {
    val end = System.nanoTime() + (warmSeconds * 1e9).toLong
    do serve(new Outcome) while (System.nanoTime() < end)
  }

  def window(out: Outcome): Map[String, Double] = {
    val b0 = batchMs.size
    val s0 = served.size
    val end = System.nanoTime() + (ctx.seconds * 1e9).toLong
    while (System.nanoTime() < end || batchMs.size == b0) serve(out)
    val mine = batchMs.drop(b0).toSeq
    val recall = served.drop(s0).map { case (q, nids) =>
      VecGen.exactTopK(q, corpus, k).toSet.intersect(nids.toSet).size.toDouble / k
    }
    val r10 = recall.sum / recall.size
    out.report += f"ann_serve: ${show("ann_batch_ms", mine)} ann_recall10=$r10%.4f " +
      s"queries=${recall.size} corpus=$n batch=$perBatch"
    out.layer("stored_bytes_ratio") = Lake.du(spark, dir).toDouble / (n.toLong * vg.dim * 8)
    Map(
      "p50_ms" -> median(mine),
      "throughput_per_s" -> perBatch * mine.size / (mine.sum / 1000),
      "recall" -> r10)
  }

  def check(out: Outcome): Unit = () // every batch is checked as it is served

  def layers(out: Outcome): Unit = {
    def med(name: String) = {
      val ss = ctx.tracer.named(name)
      if (ss.isEmpty) 0.0 else median(ss.map(_.ms))
    }
    out.layer("PqIndex.serve_plan_ms") = med("PqIndex.serve_plan")
    out.layer("PqIndex.serve_exec_ms") = med("PqIndex.serve_exec")
    val plan = ctx.tracer.named("PqIndex.serve_plan")
    val exec = ctx.tracer.named("PqIndex.serve_exec")
    val m = math.min(plan.size, exec.size)
    def per(f: Work => Double) = if (m == 0) 0.0
      else median((0 until m).map(i => f(plan(i).work) + f(exec(i).work)))
    out.layer("PqIndex.serve_jobs") = per(_.jobs.toDouble)
    out.layer("PqIndex.serve_tasks") = per(_.tasks.toDouble)
    out.layer("PqIndex.serve_shuffle_bytes") = per(_.shuffleBytes.toDouble)
  }
}
