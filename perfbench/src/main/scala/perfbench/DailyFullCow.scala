package perfbench

import java.nio.file.{Path, Paths}
import java.sql.Timestamp
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core._
import graft.ingest.{AppflowStyleJob, Ingestion}
import graft.merge.ChangeSet

/** AppFlow-style `full` daily snapshots of an orders table, copy-on-write
  * (speed-optimised, snappy), partitioned by creation month.
  *
  * Keys 0 until n0 exist at bootstrap, created over the two years before
  * it. Each day adds 0.5 % new keys (created that day), updates about 1 %
  * of live keys — 80 % of the updates among the newest 10 % of keys — and
  * drops about 0.2 % for good. The older updates and the drops fall in two
  * older months a day, as late corrections and purges come by month, so a
  * day touches a few partitions and not all of them. The model holds every
  * live row; a row is a pure function of its key and the day it last
  * changed.
  */
final class DailyFullCow(ctx: Ctx, scale: Double) extends Workload(ctx) {
  import ctx.spark
  import Workload.IngestionDatetime

  val codec = "snappy"
  private val n0 = math.max(1000L, (5000 * scale).toLong)
  private val perDay = n0 / 200
  private val start = Workload.utcDay(2024, 1, 30) // day 2 is Feb 1: compaction
  private val recentShare = 0.10  // the newest 10 % of keys ...
  private val updRecentShare = 0.008 // ... get 0.8 % of all keys' updates
  private val updOldShare = 0.002
  private val dropRate = 0.002
  private val oldMonthsPerDay = 2 // older months that get updates and drops

  private val cfg = SourceConfig("sales", "orders", Seq("id"), Seq("updated_at"),
    partitionColumns = Seq("created_month"), mode = IngestMode.Full,
    optimize = Optimize.Speed, partitionStableByKey = true)
  private val rawSchema = StructType(Seq(
    StructField("id", LongType), StructField("customer_id", LongType),
    StructField("status", StringType), StructField("amount", DecimalType(12, 2)),
    StructField("created_at", TimestampType), StructField("created_month", StringType),
    StructField("updated_at", TimestampType), StructField("note", StringType)))
  private val schema = rawSchema.add(StructField(IngestionDatetime, TimestampType))
  private val cols = schema.fieldNames.toSeq
  private val statuses = Array("NEW", "PAID", "SHIPPED", "DONE", "RETURNED")

  def days(seconds: Int): Int = math.max(6, seconds / 2)

  private def runAt(day: Int) = start.plusDays(day.toLong)
  private def epoch(day: Int): Long = runAt(day).toEpochSecond
  private def maxKey(day: Int): Long = n0 + day * perDay
  private def createdDay(k: Long): Int = if (k < n0) 0 else ((k - n0) / perDay).toInt + 1
  private def createdSec(k: Long): Long =
    if (k < n0) epoch(0) - (n0 - k) * (730L * 86400 / n0)
    else epoch(0) + (k - n0) * (86400L / perDay) - 86400

  /** Key `k` as last changed on day `v`, with the table's ingestion stamp. */
  private def row(k: Long, v: Int): Row = {
    val created = createdSec(k)
    Row(k, mix(50000, "cust", k), statuses(((v + mix(5, "st", k)) % 5).toInt),
      java.math.BigDecimal.valueOf(mix(10000000, "amt", k, v), 2),
      new Timestamp(created * 1000),
      java.time.Instant.ofEpochSecond(created).toString.substring(0, 7),
      new Timestamp((epoch(0) + v * 86400L + k % 3600 - 86400) * 1000),
      s"order-$k-r$v", new Timestamp(epoch(v) * 1000))
  }

  private val live = mutable.LongMap.empty[Row]
  private val fp = new RunningFingerprint(schema, cols)
  private var recentAgg: Map[String, (Long, java.math.BigDecimal)] = Map.empty
  /** Two key sets looked up each day, with their expected fingerprints. */
  private var lookups: Seq[(Seq[Long], Fingerprint)] = Nil
  private var rowsBefore = 0L

  private def put(k: Long, r: Row): Unit = {
    live.get(k).foreach(fp.remove)
    live(k) = r
    fp.add(r)
  }

  private def rawDir(day: Int) =
    s"$rawRoot/appflow/orders/${runAt(day).format(DateTimeFormatter.ofPattern("yyyy-MM-dd"))}"

  private def recentMonth(day: Int): String =
    runAt(day).minusMonths(2).format(DateTimeFormatter.ofPattern("yyyy-MM"))

  private def recentRead(df: DataFrame, day: Int): DataFrame =
    df.filter(col("created_month") >= recentMonth(day))
      .groupBy("status").agg(count(lit(1)).as("n"), sum("amount").as("amount"))

  def generate(day: Int): Unit = {
    sourceRows = 0L
    sourceBytes = 0L
    rowsBefore = live.size
    val rnd = new java.util.SplittableRandom(ctx.seed * 1000003L + day)
    if (day == 0) (0L until n0).foreach(k => put(k, row(k, 0)))
    else {
      // exact counts, so every seed does the same amount of work
      val n = live.size
      val (recent, older) = live.keys.toIndexedSeq.sorted.filter(createdDay(_) < day)
        .partition(_ >= maxKey(day) * (1 - recentShare))
      val months = pick(older.map(live(_).getString(5)).distinct, oldMonthsPerDay, rnd).toSet
      val old = older.filter(k => months(live(k).getString(5)))
      val drops = pick(recent ++ old, math.round(n * dropRate).toInt, rnd).toSet
      pick(recent.filterNot(drops), math.round(n * updRecentShare).toInt, rnd)
        .foreach(k => put(k, row(k, day)))
      pick(old.filterNot(drops), math.round(n * updOldShare).toInt, rnd)
        .foreach(k => put(k, row(k, day)))
      drops.foreach(k => fp.remove(live.remove(k).get))
      (maxKey(day - 1) until maxKey(day)).foreach(k => put(k, row(k, day)))
    }
    val rows = live.keys.toSeq.sorted.map(live)
    writeRaw(rows.map(r => Row.fromSeq(r.toSeq.init)), rawSchema, rawDir(day))
    val month = recentMonth(day)
    recentAgg = rows.filter(_.getString(5) >= month).groupBy(_.getString(2)).map {
      case (s, rs) => s -> ((rs.size.toLong, rs.map(_.getDecimal(3)).reduce(_ add _)))
    }
    lookups = Seq.fill(2) {
      val keys = Seq.fill(20)((rnd.nextDouble() * maxKey(day)).toLong).distinct
      (keys, RunningFingerprint.of(schema, cols, keys.flatMap(live.get)))
    }
  }

  private def jobFor(t: Target, day: Int) =
    new AppflowStyleJob(spark, cfg, "appflow", rawRoot, t.warehouse, t.outputs, runAt(day))

  def tableRoot(t: Target): Path = Paths.get(jobFor(t, 0).table.root.toString)

  def bootstrap(t: Target): Unit = jobFor(t, 0).run()

  def steps(t: Target, day: Int): Seq[Step] = Seq(Step("appflow job", () => {
    val j = jobFor(t, day)
    if (!t.tracer.enabled) { j.run(); j.test() }
    else replay(t, j, day)
  }, () => {
    val df = jobFor(t, day).table.read(spark)
    checkColumns(s"day $day table", df, cols)
    checkFingerprint(s"day $day table", df, cols, fp.value)
  }))

  /** `AppflowStyleJob.run()` then `test()`, call by call, with the change
    * set materialized at the merge → table boundary.
    */
  private def replay(t: Target, j: AppflowStyleJob, day: Int): Unit = {
    val tr = t.tracer
    val table = j.table
    tr.span("ingest.run") {
      val source = Ingestion.stamp(j.dataframe(), j.ingestionTs, cfg.flags.keepDeletes)
      val (src, tgt) = Ingestion.alignSchemas(source, table.read(spark))
      val target = tgt.cache()
      try {
        val changes = tr.span("merge.detect") {
          val c = ChangeSet.build(src, target, cfg.naturalKeys, cfg.updatedAtFields,
            cfg.flags, allowDeletes = true, Some(j.ingestionTs)).cache()
          t.add("merge.change_rows", c.count().toDouble)
          c
        }
        t.add("merge.rows_read", (sourceRows + rowsBefore).toDouble)
        val tt = (df: DataFrame) => Ingestion.alignSchemas(source, df)._2
        val before = table.currentManifest
        try tr.span("table.commit") {
          table.merge(spark, changes, cfg.naturalKeys, cfg.flags.keepDeletes,
            targetTransform = tt, partitionStableByKey = cfg.partitionStableByKey)
        } finally changes.unpersist()
        chargeCommit(t, before, table.currentManifest)
      } finally target.unpersist()
      maintenance(t, table, runAt(day))
      tr.span("ingest.outputs") { j.writeOutputs() }
    }
    tr.span("ingest.test") { j.test() }
  }

  def reads(t: Target, day: Int): Seq[TimedRead] = {
    val table = jobFor(t, day).table
    val expectedAgg = recentAgg
    TimedRead("recent-months", () => scan(t, table, "table.scan") {
      recentRead(table.readWhere(spark, col("created_month") >= recentMonth(day)), day)
    }, rows => {
      val got = rows.asInstanceOf[Array[Row]].map(r =>
        r.getString(0) -> ((r.getLong(1), r.getDecimal(2)))).toMap
      require(got.keySet == expectedAgg.keySet && got.forall { case (s, (n, a)) =>
        expectedAgg(s)._1 == n && expectedAgg(s)._2.compareTo(a) == 0
      }, s"day $day recent-months read: $got, model expects $expectedAgg")
    }) +: lookups.map { case (keys, expected) =>
      TimedRead("key-lookup", () => scan(t, table, "table.scan") {
        table.readWhere(spark, col("id").isin(keys: _*))
      }, rows => {
        val rs = rows.asInstanceOf[Array[Row]]
        val got = RunningFingerprint.of(rs.headOption.map(_.schema).getOrElse(schema), cols, rs)
        require(got == expected, s"day $day key lookup: $got, model expects $expected")
      })
    }
  }

  def expectedRows: DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(live.values.toSeq, ctx.nproc), schema)
}
