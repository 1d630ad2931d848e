package graftbench

import scala.collection.mutable

/** One user row. Every field is a pure function of (seed, key, write number),
  * so the model never needs a stored copy of anything graft wrote. */
final case class BenchRow(k: Long, v: Long, pay: String, p: String)

object Gen {
  val KeysPerPartition = 100000L
  /** Encoded size the user is charged per row: k (8) + v (8) + a 32-char
    * payload + a 4-char partition value. */
  val UserRowBytes = 52L

  def part(i: Int): String = f"p$i%03d"
  def partOf(k: Long): String = part((k / KeysPerPartition).toInt)
  def key(part: Int, slot: Int): Long = part * KeysPerPartition + slot

  private def mix(x0: Long): Long = { // splitmix64 finalizer
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
  def hash(seed: Long, a: Long, b: Long, salt: Long): Long =
    mix(mix(mix(seed * 0x9e3779b97f4a7c15L + salt) + a) + b)

  def row(seed: Long, k: Long, write: Long): BenchRow = BenchRow(
    k, java.lang.Math.floorMod(hash(seed, k, write, 1), 1000000L),
    f"${hash(seed, k, write, 2)}%016x${hash(seed, k, write, 3)}%016x", partOf(k))

  /** Deterministic choice in [0, n) for the i-th decision of round r. */
  def pick(seed: Long, r: Long, i: Long, n: Int): Int =
    java.lang.Math.floorMod(hash(seed, r, i, 7), n.toLong).toInt
}

/** Per-partition answer of an aggregate read: row count, sum(v), sum(k). */
final case class Agg(count: Long, sumV: Long, sumK: Long)

/** A partition in the model: the model's own version stamp (a new one per
  * data write, kept by a pointer move) and its rows, key -> v. */
final case class PartState(ver: Long, rows: Map[Long, Long]) {
  def agg(keep: Long => Boolean = _ => true): Agg = {
    var c = 0L; var sv = 0L; var sk = 0L
    rows.foreach { case (k, v) => if (keep(k)) { c += 1; sv += v; sk += k } }
    Agg(c, sv, sk)
  }
}

final class CheckFailed(msg: String) extends Exception(msg)

/**
 * The benchmark's independent model of the table: plain Scala, no graft
 * code. Each operation the workload makes is applied here too, and a
 * snapshot is kept per commit, so every read, travel read and change read
 * is compared with counts and sums derived from the generator alone.
 *
 * `corrupt` makes the model deliberately wrong (sum(v) off by one in every
 * non-empty partition and the newest two commits swapped in the log); the
 * self-test uses it to show that the checks catch a wrong answer.
 */
final class Model(val corrupt: Boolean) {
  type Snap = Map[String, PartState]

  private val ids = mutable.ArrayBuffer.empty[String]
  private val snaps = mutable.ArrayBuffer.empty[Snap]
  private val index = mutable.HashMap.empty[String, Int]
  private var nextVer = 0L

  def head: Snap = snaps.last
  def headId: String = ids.last
  def commits: Int = ids.size
  def idAt(i: Int): String = ids(i)
  def contains(id: String): Boolean = index.contains(id)
  def snapAt(id: String): Snap =
    snaps(index.getOrElse(id, throw new CheckFailed(s"model has no commit $id")))

  def newVer(): Long = { nextVer += 1; nextVer }

  /** Record commit `id` with visible state `next`. */
  def commit(id: String, next: Snap): Unit = {
    if (index.contains(id)) throw new CheckFailed(s"commit id $id reused")
    index(id) = ids.size
    ids += id
    snaps += next
  }

  /** Head state with `rows` written to their partitions as fresh versions
    * (overwrite-by-partition: each touched partition holds exactly them). */
  def replaced(rows: Seq[BenchRow]): Snap =
    rows.groupBy(_.p).foldLeft(if (snaps.isEmpty) Map.empty[String, PartState] else head) {
      case (s, (p, rs)) => s.updated(p, PartState(newVer(), rs.map(r => r.k -> r.v).toMap))
    }

  /** Head state after a row-level statement on partition set `parts`:
    * `f` maps each partition's rows to its new rows (a new version each). */
  def edited(parts: Iterable[String])(f: (String, Map[Long, Long]) => Map[Long, Long]): Snap =
    parts.foldLeft(head) { case (s, p) =>
      val rows = f(p, s.get(p).map(_.rows).getOrElse(Map.empty))
      if (rows.isEmpty) s - p else s.updated(p, PartState(newVer(), rows))
    }

  def aggs(s: Snap, keep: Long => Boolean = _ => true): Map[String, Agg] = {
    val m = s.map { case (p, st) => p -> st.agg(keep) }.filter(_._2.count > 0)
    if (corrupt) m.map { case (p, a) => p -> a.copy(sumV = a.sumV + 1) } else m
  }

  /** Partitions whose version differs between `from` and `to`, read at `to`. */
  def changed(from: Snap, to: Snap): Snap =
    to.filter { case (p, st) => !from.get(p).exists(_.ver == st.ver) }

  /** Commit ids newest first, as `log` must list them. */
  def logNewestFirst(limit: Int): Seq[String] = {
    val l = ids.reverseIterator.take(limit).toVector
    if (corrupt && l.size >= 2) l(1) +: l(0) +: l.drop(2) else l
  }

  def expectAggs(what: String, got: Map[String, Agg], want: Map[String, Agg]): Unit =
    if (got != want) {
      val diff = (got.keySet ++ want.keySet).toSeq.sorted
        .filter(p => got.get(p) != want.get(p)).take(3)
        .map(p => s"$p got=${got.get(p)} want=${want.get(p)}")
      throw new CheckFailed(s"$what: ${diff.mkString("; ")}")
    }
}
