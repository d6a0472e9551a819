package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Kafka-shaped record, the shape `CdcPipeline` reads from a source
  * (top level so Spark derives its encoder without an outer instance). */
final case class Rec(topic: String, key: String, value: String,
                     partition: Int, offset: Long)

/** One generated change: its record and the key it changes. */
final case class Change(rec: Rec, id: Long)

/** Seeded Debezium-envelope generator in the `cdc/Fixture` wire format:
  * nine `orders_t<id % 9>` topics, `{"payload":{"id":..}}` keys and
  * envelope values over `Fixture.rowSchema` (id, o_orderstatus,
  * o_totalprice). Keys are Zipf-distributed over `keySpace` ids; every
  * key's first change creates it, later ones update it or (rarely)
  * delete it, and `poisonRate` of the records carry a malformed value.
  * Offsets are one global sequence, so (ts_ms, offset) orders every
  * key's changes the way they were generated.
  *
  * The generator keeps the latest state per key, so the expected mirror
  * after any prefix of the stream is `state` at that point. Totals are
  * whole numbers, so sums over them are exact in any order. */
final class Gen(seed: Long, val keySpace: Int, zipfS: Double = 1.0,
                deleteRate: Double = 0.03, poisonRate: Double = 0.01) {
  import Gen._

  private val rnd = new SplittableRandom(seed)
  private val cdf: Array[Double] = {
    val w = Array.tabulate(keySpace)(r => 1.0 / math.pow(r + 1, zipfS))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  private var seq = 0L

  /** Live rows by id; a deleted key is absent. */
  val state: mutable.LongMap[Row] = mutable.LongMap.empty
  /** Every planted poison value, in generation order. */
  val poison: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  /** The id of Zipf rank 1, and so the table that gets the most changes. */
  val hotTable: String = table(1L)

  /** A Zipf-distributed key id. */
  def nextId(): Long = {
    val u = rnd.nextDouble()
    var lo = 0
    var hi = keySpace - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    lo + 1L
  }

  private def nextRow(id: Long): Row =
    Row(id, statuses(rnd.nextInt(statuses.length)),
      (1 + rnd.nextInt(100000)).toDouble)

  private def rec(id: Long, value: String): Rec = {
    val r = Rec(s"$topicPrefix.${table(id)}", s"""{"payload":{"id":$id}}""",
      value, (id % 4).toInt, seq)
    seq += 1
    r
  }

  /** One snapshot read (op `r`) of every key: the initial table load. */
  def snapshot(tsMs: Long): Seq[Change] = (1L to keySpace.toLong).map { id =>
    val row = nextRow(id)
    state(id) = row
    Change(rec(id, envelope(None, Some(row), "r", tsMs)), id)
  }

  /** The next change, stamped `tsMs`. */
  def next(tsMs: Long): Change = {
    val id = nextId()
    if (rnd.nextDouble() < poisonRate) {
      val v = s"{not-json $seq"
      poison += v
      Change(rec(id, v), id)
    } else {
      val before = state.get(id)
      val (op, after) = before match {
        case None => ("c", Some(nextRow(id)))
        case Some(_) if rnd.nextDouble() < deleteRate => ("d", None)
        case Some(_) => ("u", Some(nextRow(id)))
      }
      after match {
        case Some(r) => state(id) = r
        case None => state.remove(id)
      }
      Change(rec(id, envelope(before, after, op, tsMs)), id)
    }
  }

  def batch(n: Int, tsMs: Long => Long): Seq[Change] =
    Seq.fill(n)(next(tsMs(seq)))

  /** Expected live rows of one table. */
  def expected(t: String): Iterable[Row] = state.values.filter(r => table(r.id) == t)
}

object Gen {
  final case class Row(id: Long, status: String, total: Double)

  val topicPrefix = "mysql-server.pos_bi_db"
  val tables: Seq[String] = (0 until 9).map(i => s"orders_t$i")
  val statuses: Array[String] = Array("O", "F", "P", "R", "H")

  def table(id: Long): String = s"orders_t${id % 9}"

  private def rowJson(r: Row): String =
    s"""{"id":${r.id},"o_orderstatus":"${r.status}","o_totalprice":${r.total}}"""

  def envelope(before: Option[Row], after: Option[Row], op: String,
               tsMs: Long): String = {
    val b = before.map(rowJson).getOrElse("null")
    val a = after.map(rowJson).getOrElse("null")
    s"""{"payload":{"before":$b,"after":$a,"op":"$op","ts_ms":$tsMs}}"""
  }

  /** Order-insensitive fingerprint of a row set: (count, sum of row
    * hashes). The same function hashes expected rows and mirror rows. */
  def fingerprint(rows: Iterable[Row]): (Long, Long) =
    (rows.size.toLong, rows.iterator.map(rowHash).sum)

  def rowHash(r: Row): Long =
    scala.util.hashing.MurmurHash3.productHash(r).toLong * 2654435761L + r.id
}
