package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Murmur3HashFunction, XxHash64Function}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** What every workload gets: the session, the seed, the core count and a
  * private working directory inside the checkout.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val nproc: Int,
                val work: Path) {
  def dir(name: String): Path = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p
  }
}

/** Order-insensitive content fingerprint: row count plus two sums of
  * per-row hashes (Spark's `xxhash64` and `hash` over the named columns in
  * name order). Equal multisets give equal fingerprints; a changed value
  * changes both sums. The table side is computed by Spark; the model side
  * row by row with the same hash functions, so the model needs no engine.
  */
final case class Fingerprint(rows: Long, h64: BigInt, h32: Long)

object Fingerprint {
  def of(df: DataFrame, cols: Seq[String]): Fingerprint = {
    val cs = cols.sorted.map(col)
    val r = df.select(xxhash64(cs: _*).cast("decimal(38,0)").as("a"),
        hash(cs: _*).cast("long").as("b"))
      .agg(count(lit(1)), sum("a"), sum("b")).head()
    Fingerprint(r.getLong(0),
      Option(r.getDecimal(1)).map(d => BigInt(d.toBigInteger)).getOrElse(BigInt(0)),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }
}

/** A fingerprint kept up to date row by row: the model adds and removes
  * rows as it applies each step.
  */
final class RunningFingerprint(schema: StructType, cols: Seq[String]) {
  private val fields = cols.sorted.map(c => (schema.fieldIndex(c), schema(c).dataType))
  private var rows = 0L
  private var h64 = BigInt(0)
  private var h32 = 0L

  def add(r: Row): Unit = { val (a, b) = rowHash(r); rows += 1; h64 += a; h32 += b }
  def remove(r: Row): Unit = { val (a, b) = rowHash(r); rows -= 1; h64 -= a; h32 -= b }
  def value: Fingerprint = Fingerprint(rows, h64, h32)

  /** What Spark's `xxhash64(cols)` and `hash(cols)` give for this row. */
  def rowHash(r: Row): (Long, Int) = {
    var a = 42L
    var b = 42
    fields.foreach { case (i, dt) =>
      val v = RunningFingerprint.internal(r.get(i), dt)
      a = XxHash64Function.hash(v, dt, a)
      b = Murmur3HashFunction.hash(v, dt, b).toInt
    }
    (a, b)
  }
}

object RunningFingerprint {
  /** Spark's internal form of an external value, as its hashes see it. */
  def internal(v: Any, dt: DataType): Any = v match {
    case null => null
    case s: String => UTF8String.fromString(s)
    case d: java.math.BigDecimal =>
      val t = dt.asInstanceOf[DecimalType]
      Decimal(d, t.precision, t.scale)
    case d: java.sql.Date => DateTimeUtils.fromJavaDate(d)
    case t: java.sql.Timestamp => DateTimeUtils.fromJavaTimestamp(t)
    case other => other
  }

  def of(schema: StructType, cols: Seq[String], rows: Iterable[Row]): Fingerprint = {
    val f = new RunningFingerprint(schema, cols)
    rows.foreach(f.add)
    f.value
  }
}

/** One walk of a table root: every regular file with its size, sorted into
  * metadata (`meta/`), delete files (paths any observed manifest listed as
  * a delete file) and data files.
  */
final case class TreeState(files: Map[String, (Long, Long)], kinds: Map[String, String]) {
  def bytes(kind: String): Long =
    files.iterator.collect { case (p, (b, _)) if kinds(p) == kind => b }.sum
  def total: Long = files.valuesIterator.map(_._1).sum
}

/** Storage accounting, always outside the timed window. `written` counts
  * every byte that appeared under the root since the accountant was made
  * (a file whose size or mtime changed counts again); `reclaimed` counts
  * files that disappeared.
  */
final class Storage(root: Path) {
  private var deletePaths = Set.empty[String]
  private var last = TreeState(Map.empty, Map.empty)
  var written = Map("data" -> 0L, "delete" -> 0L, "meta" -> 0L)
  var reclaimed = 0L

  def noteDeletes(paths: Iterable[String]): Unit = deletePaths ++= paths

  def walk(): TreeState = {
    val files =
      if (!Files.exists(root)) Map.empty[String, (Long, Long)]
      else scala.util.Using.resource(Files.walk(root)) { st =>
        st.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
          root.relativize(p).toString ->
            ((Files.size(p), Files.getLastModifiedTime(p).toMillis))
        }.toMap
      }
    val kinds = files.keys.map { p =>
      p -> (if (p.startsWith("meta/")) "meta"
            else if (deletePaths(p)) "delete" else "data")
    }.toMap
    TreeState(files, kinds)
  }

  /** Walk, charge new bytes and reclaimed files since the last walk. */
  def update(): TreeState = {
    val now = walk()
    now.files.foreach { case (p, v @ (b, _)) =>
      if (!last.files.get(p).contains(v)) {
        val k = now.kinds(p)
        written += k -> (written(k) + b)
      }
    }
    reclaimed += last.files.keySet.count(p => !now.files.contains(p))
    last = now
    now
  }

  def state: TreeState = last
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Geometric mean over kinds of each kind's median. A plain median over
    * mixed kinds (a changelog read next to a metadata query) lands in the
    * gap between two kinds and jumps from run to run; here every kind keeps
    * the same weight, and one slow sample moves only its kind's median.
    */
  def kindMedian(kinds: Iterable[Seq[Double]]): Double =
    math.exp(kinds.map(k => math.log(median(k))).sum / kinds.size)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) return Double.NaN
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Peak resident set size of this JVM in MiB (VmHWM). */
  def rssPeakMb(): Double =
    Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)

  /** Busy and stolen jiffies of all CPUs since boot (`/proc/stat`). On a
    * shared virtual machine the stolen share of a run explains most of its
    * run-to-run timing spread.
    */
  def cpuTicks(): (Long, Long) =
    try {
      val f = new String(Files.readAllBytes(java.nio.file.Paths.get("/proc/stat")))
        .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      (f(0) + f(1) + f(2) + f(5) + f(6), f(7))
    } catch { case _: Exception => (0L, 0L) }

  def loadAvg(): String =
    try new String(Files.readAllBytes(java.nio.file.Paths.get("/proc/loadavg"))).trim
    catch { case _: java.io.IOException => "unknown" }

  /** Bytes of every regular file under `p`. */
  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else scala.util.Using.resource(Files.walk(p)) { st =>
      st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    }
}
