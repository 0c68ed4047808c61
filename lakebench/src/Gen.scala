package lakebench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.{Base64, SplittableRandom}

/** One generated wire record plus the fields the truth needs. `valid` is
  * false for the malformed share, which the program must route to its DLQ.
  */
final case class Rec(shard: String, pk: String, seq: String, arrivalUs: Long,
    data: String, valid: Boolean, id: Long, op: String, status: String,
    value: Double, tsUs: Long, batch: Long) {
  def wireBytes: Long = data.length.toLong
}

/** Seeded CDC traffic: Zipf-distributed keys over a fixed key set, an
  * I/U/D state machine per key, a fixed malformed share, and a fixed share
  * of "late" keys whose event clock lags arrival by hours. Event time
  * jitters within a batch (out of order across keys) but never regresses
  * for one key, so the program's per-key order is checkable.
  *
  * A record's wire payload is the base64 of a ~136 B JSON CDC envelope,
  * about 182 B; the reference's wire record is ~165 B.
  *
  * Only the record size and the 4 shards come from the reference. The key
  * count, the Zipf exponent, the 8% delete share, the 1% malformed share,
  * the 5% late keys with their 1-7 h lag and the 2 s jitter are
  * assumptions of this benchmark; NOTES.md shows how the late share moves
  * the file figures.
  */
final class CdcGen(seed: Long, val keys: Int = 5000, val shards: Int = 4,
    zipfS: Double = 1.1, malformedShare: Double = 0.01,
    lateKeyShare: Double = 0.05) {
  import CdcGen._

  private val rnd = new SplittableRandom(seed)

  // rank -> id permutation, so hot ids are scattered over the id range
  private val idOfRank: Array[Long] = {
    val a = Array.tabulate(keys)(i => (i + 1).toLong)
    var i = keys - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }
  private val cdf: Array[Double] = {
    val w = Array.tabulate(keys)(r => 1.0 / math.pow(r + 1, zipfS))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x / tot; acc }
  }
  // per-key lag of the event clock behind arrival: 0 for most keys, 1-7 h
  // for the late share (devices that buffer and upload hours later)
  private val lagUs: Array[Long] = Array.fill(keys + 1)(
    if (rnd.nextDouble() < lateKeyShare) (1 + rnd.nextInt(6)) * HourUs
      + rnd.nextInt(3600) * 1000000L
    else 0L)
  private val lastTs = Array.fill(keys + 1)(Long.MinValue)
  private val alive = new Array[Boolean](keys + 1)
  private var nextSeq = 1L
  private var nextEvent = 1L

  private def drawId(): Long = {
    val u = rnd.nextDouble()
    var lo = 0
    var hi = keys - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    idOfRank(lo)
  }

  /** `n` records arriving at `wallUs` (the batch's due time), tagged
    * `batch`. The generator is stateful: call in arrival order.
    */
  def batch(n: Int, wallUs: Long, batch: Long): Array[Rec] = Array.fill(n) {
    val id = drawId()
    val i = id.toInt
    val pk = s"orders-$id"
    val shard = shardOf(pk, shards)
    val seq = f"$nextSeq%030d"
    nextSeq += 1
    if (rnd.nextDouble() < malformedShare) {
      // half undecodable base64, half decodable JSON without a payload
      val data =
        if (rnd.nextBoolean()) s"!!corrupt-${rnd.nextInt(1000000)}!!"
        else b64(s"""{"metadata":{"op":"U"},"note":"truncated-${rnd.nextInt(1000)}"}""")
      Rec(shard, pk, seq, wallUs, data, valid = false, id, "", "", 0.0, 0L, batch)
    } else {
      val jitter = rnd.nextInt(2000) * 1000L
      val ts = math.max(wallUs - jitter - lagUs(i), lastTs(i) + 1000L) / 1000L * 1000L
      lastTs(i) = ts
      val op = if (!alive(i)) "I" else if (rnd.nextDouble() < 0.08) "D" else "U"
      alive(i) = op != "D"
      val status = Statuses(rnd.nextInt(Statuses.length))
      val value = (1 + rnd.nextInt(9999)).toDouble
      val ev = nextEvent
      nextEvent += 1
      val json = s"""{"data":{"id":$id,"status":"$status","value":$value,""" +
        s""""ts":"${isoMillis(ts)}","event_id":$ev,"batch":$batch},"metadata":{"op":"$op"}}"""
      Rec(shard, pk, seq, wallUs, b64(json), valid = true, id, op, status, value, ts, batch)
    }
  }
}

object CdcGen {
  val HourUs: Long = 3600L * 1000000L
  /** Fixed event-time origin, so hour partitions do not depend on the clock. */
  val EpochUs: Long = java.time.Instant.parse("2026-01-05T00:00:00Z").toEpochMilli * 1000L
  val Statuses: Array[String] =
    Array("created", "paid", "packed", "shipped", "delivered", "returned")

  def shardOf(pk: String, shards: Int): String =
    f"shardId-${math.floorMod(pk.hashCode, shards)}%012d"

  def b64(s: String): String = Base64.getEncoder.encodeToString(s.getBytes(UTF_8))

  def isoMillis(us: Long): String =
    java.time.Instant.ofEpochMilli(us / 1000L).toString
}

/** Expected answers, computed from the generated records alone. */
final class Truth(recs: Iterable[Rec]) {
  val valid: Vector[Rec] = recs.iterator.filter(_.valid).toVector
  val malformed: Vector[Rec] = recs.iterator.filterNot(_.valid).toVector
  private val byId: Map[Long, Vector[Rec]] =
    valid.groupBy(_.id).map { case (k, v) => k -> v.sortBy(_.seq) }

  def idsPresent: Vector[Long] = byId.keys.toVector.sorted

  /** (seq, op, status, value) of every valid record of `id`, in seq order. */
  def lookup(id: Long): Seq[(String, String, String, Double)] =
    byId.getOrElse(id, Vector.empty).map(r => (r.seq, r.op, r.status, r.value))

  /** hour start (us) -> (rows, sum(value), distinct ids), event time in [lo, hi). */
  def hourly(loUs: Long, hiUs: Long): Map[Long, (Long, Double, Long)] =
    valid.filter(r => r.tsUs >= loUs && r.tsUs < hiUs)
      .groupBy(r => r.tsUs / CdcGen.HourUs * CdcGen.HourUs)
      .map { case (h, rs) =>
        h -> (rs.size.toLong, rs.map(_.value).sum, rs.map(_.id).distinct.size.toLong)
      }

  /** id -> (status, value) of the latest record per key in [lo, hi],
    * keys whose latest op is a delete excluded.
    */
  def latest(lo: Long, hi: Long): Map[Long, (String, Double)] =
    byId.iterator.filter { case (id, _) => id >= lo && id <= hi }
      .map { case (id, rs) => id -> rs.last }
      .collect { case (id, r) if r.op != "D" => id -> (r.status, r.value) }
      .toMap
}

/** Seeded clustered vectors for the ANN workload, with exact top-k truth
  * ranked the way the program ranks (cosine rounded to 4 places, then id).
  */
final class VecGen(seed: Long, val dim: Int = 64, clusters: Int = 32) {
  private val rnd = new SplittableRandom(seed)
  private val centers = Array.fill(clusters, dim)(rnd.nextDouble() * 2 - 1)

  private def gauss(): Double = {
    // Box-Muller on the seeded stream
    val u = math.max(rnd.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * rnd.nextDouble())
  }

  def vectors(n: Int, sigma: Double): Array[Array[Double]] = Array.fill(n) {
    val c = centers(rnd.nextInt(clusters))
    Array.tabulate(dim)(d => c(d) + sigma * gauss())
  }
}

object VecGen {
  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i)
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Exact top-k corpus ids for `q`, ties on the 4-place cosine broken by id. */
  def exactTopK(q: Array[Double], corpus: Array[Array[Double]], k: Int): Seq[Long] =
    corpus.indices.iterator
      .map(i => (math.rint(cosine(q, corpus(i)) * 1e4) / 1e4, i.toLong))
      .toVector.sortBy { case (s, i) => (-s, i) }.take(k).map(_._2)
}
