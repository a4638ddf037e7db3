package perfbench

import java.nio.file.Path
import java.time.{OffsetDateTime, ZoneOffset}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

import graft.core.MetaColumns
import graft.table.{Manifest, SnapshotTable}

/** One instance of the system under test: its own warehouse and output
  * roots, and the tracer that times its calls (disabled when untraced).
  */
final class Target(val name: String, val root: Path, val tracer: Tracer) {
  val warehouse: String = root.resolve("warehouse").toString
  val outputs: String = root.resolve("outputs").toString
  /** Per-layer counts the tracer cannot see (rows, files, bytes). */
  val counts: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = counts(k) += v
}

/** A read the workload asks the driver to run: `body` is timed, `check`
  * runs after it outside the timed window and throws on a wrong result.
  */
final case class TimedRead(name: String, body: () => Any, check: Any => Unit)

/** A write the workload asks the driver to run (a daily job or one SQL
  * statement): `run` is timed; then, outside the timed window, `record`
  * notes what later reads need and `check` compares the table with the
  * model.
  */
final case class Step(name: String, run: () => Unit, check: () => Unit,
                      record: () => Unit = () => ())

/** A seeded workload. The driver calls, in order: `generate(0)` and
  * `bootstrap` (set-up); then for each day `generate(day)` (untimed) and,
  * on every target, the day's `steps` and `reads`; at the end `finish`.
  * Generation also advances the workload's independent model of the
  * expected table, which the checks use; nothing in the model calls the
  * engine.
  */
abstract class Workload(val ctx: Ctx) {
  import ctx.spark

  /** Codec the table writes with; the storage reference copy uses it too. */
  def codec: String
  /** Days in the schedule for a run of `seconds` seconds. */
  def days(seconds: Int): Int
  /** Rows and bytes of the raw input generated for the last day; the
    * workload resets them at the start of each `generate`.
    */
  var sourceRows = 0L
  var sourceBytes = 0L

  def generate(day: Int): Unit
  def bootstrap(t: Target): Unit
  def steps(t: Target, day: Int): Seq[Step]
  def reads(t: Target, day: Int): Seq[TimedRead]
  /** End-of-run steps. */
  def finish(t: Target): Seq[Step] = Nil
  def tableRoot(t: Target): Path
  /** The expected final rows, for the storage reference copy. */
  def expectedRows: DataFrame

  protected val rawRoot: String = ctx.dir("raw").toString

  protected def checkFingerprint(what: String, df: DataFrame, cols: Seq[String],
                                 expected: Fingerprint): Unit = {
    val got = Fingerprint.of(df, cols)
    require(got == expected, s"$what: content $got, model expects $expected")
  }

  protected def checkColumns(what: String, df: DataFrame, cols: Seq[String]): Unit =
    require(df.columns.toSeq.sorted == cols.sorted,
      s"$what: columns ${df.columns.mkString(",")}, model expects ${cols.mkString(",")}")

  /** A deterministic value in [0, mod) keyed by the seed and the parts. */
  protected def mix(mod: Long, parts: Any*): Long = {
    val h = scala.util.hashing.MurmurHash3.orderedHash(ctx.seed +: parts)
    java.lang.Math.floorMod(h.toLong * 0x9E3779B97F4A7C15L >>> 11, mod)
  }

  /** `n` distinct elements of `xs` in random order (partial shuffle). */
  protected def pick[T](xs: IndexedSeq[T], n: Int, rnd: java.util.SplittableRandom): Seq[T] = {
    val a = xs.toArray[Any]
    (0 until math.min(n, a.length)).map { i =>
      val j = i + rnd.nextInt(a.length - i)
      val x = a(j); a(j) = a(i); a(i) = x
      x.asInstanceOf[T]
    }
  }

  /** Writes model rows as the day's raw parquet input and counts them. */
  protected def writeRaw(rows: Seq[Row], schema: StructType, dir: String): Unit = {
    spark.createDataFrame(spark.sparkContext.parallelize(rows, ctx.nproc), schema)
      .write.mode("overwrite").parquet(dir)
    sourceRows += rows.size
    sourceBytes += Stats.treeBytes(java.nio.file.Paths.get(dir))
  }

  /** Runs one scan-like read, and in a traced target records the files the
    * executed plan read and the files the table holds.
    */
  protected def scan(t: Target, table: SnapshotTable, span: String)(df: => DataFrame): Array[Row] =
    t.tracer.span(span) {
      val d = df
      val rows = d.collect()
      if (t.tracer.enabled) {
        t.add("table.scan.files_read", Plans.filesRead(d))
        val m = table.currentManifest
        t.add("table.scan.files_live", m.files.size)
        t.add("table.scan.delete_files_live", m.deleteFiles.size)
        t.add("table.scan.reads", 1)
      }
      rows
    }

  /** The engine's daily maintenance as `IngestionJob.run` performs it, call
    * by call, each in its own span.
    */
  protected def maintenance(t: Target, table: SnapshotTable, runDatetime: OffsetDateTime): Unit = {
    val props = table.currentManifest.properties
    def longProp(k: String, default: Long) = props.get(k).map(_.toLong).getOrElse(default)
    t.tracer.span("table.maint.expire") {
      table.expireSnapshots(
        maxAgeMs = longProp("history.expire.max-snapshot-age-ms", 90L * 24 * 3600 * 1000),
        minSnapshotsToKeep = longProp("history.expire.min-snapshots-to-keep", 90).toInt)
    }
    t.tracer.span("table.maint.orphans") { table.removeOrphanFiles(spark) }
    if (runDatetime.getDayOfMonth == 1) {
      val before = table.currentManifest
      t.tracer.span("table.maint.compact") {
        table.compact(spark,
          targetFileBytes = longProp("write.target-file-size-bytes", 64L * 1024 * 1024))
      }
      val gone = Manifests.removed(before, table.currentManifest)
      t.add("table.maint.compact.bytes_rewritten", gone.map(_.bytes).sum.toDouble)
    }
  }

  /** Charges one commit's manifest difference to the `table.commit` counts. */
  protected def chargeCommit(t: Target, before: Manifest, after: Manifest): Unit = {
    val root = tableRoot(t)
    def size(rel: String) = java.nio.file.Files.size(root.resolve(rel)).toDouble
    val added = Manifests.added(before, after)
    val oldDeletes = before.deleteFiles.map(_.path).toSet
    val newDeletes = after.deleteFiles.filterNot(d => oldDeletes(d.path))
    t.add("table.commit.files_added", added.size + newDeletes.size)
    t.add("table.commit.files_removed", Manifests.removed(before, after).size)
    t.add("table.commit.data_bytes_written",
      added.map(f => size(f.path)).sum + newDeletes.map(d => size(d.path)).sum)
    t.add("table.commit.rows_written", added.map(_.rows).sum.toDouble)
  }
}

object Workload {
  def utcDay(y: Int, m: Int, d: Int, hour: Int = 2): OffsetDateTime =
    OffsetDateTime.of(y, m, d, hour, 0, 0, 0, ZoneOffset.UTC)

  def apply(name: String, ctx: Ctx, scale: Double): Workload = name match {
    case "daily-full-cow" => new DailyFullCow(ctx, scale)
    case "cdc-mor-changelog" => new CdcMorChangelog(ctx, scale)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  val names: Seq[String] = Seq("daily-full-cow", "cdc-mor-changelog")

  val Op: String = MetaColumns.Op
  val IngestionDatetime: String = MetaColumns.IngestionDatetime
}

object Manifests {
  def added(before: Manifest, after: Manifest): Seq[graft.table.FileEntry] = {
    val old = before.files.map(_.path).toSet
    after.files.filterNot(f => old(f.path))
  }
  def removed(before: Manifest, after: Manifest): Seq[graft.table.FileEntry] = {
    val now = after.files.map(_.path).toSet
    before.files.filterNot(f => now(f.path))
  }
}

object Plans {
  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

  private def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case q: QueryStageExec => leaves(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(leaves)
  }

  /** Files the executed plan's file scans read (their `numFiles` metric). */
  def filesRead(df: DataFrame): Double =
    leaves(df.queryExecution.executedPlan).collect {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum.toDouble
}
