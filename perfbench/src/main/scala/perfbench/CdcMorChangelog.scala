package perfbench

import java.nio.file.{Path, Paths}
import java.sql.Timestamp
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core._
import graft.ingest.{DmsStyleJob, Ingestion}
import graft.merge.ChangeSet
import graft.table.SnapshotTable

/** DMS-style `cdc` of a lineitem table keyed by (order_id, line_no),
  * merge-on-read (storage-optimised, gzip), followed each day by a small
  * SQL correction and the downstream reads.
  *
  * The bootstrap reads one full-load file (every key once, op I). Each
  * later day:
  *   - the DMS job ingests a batch touching about 0.5 % of live keys with
  *     one of four op sequences — 1 to 3 updates; a delete; a delete then a
  *     re-insert; an update then a delete — plus new orders (an insert,
  *     sometimes followed by an update);
  *   - a `MERGE INTO` statement with the reference's clauses applies a
  *     correction of 60 rows, mostly inserts: 80 % new keys, the rest
  *     updates and deletes of keys the day's batch did not touch, so every
  *     clause runs;
  *   - a consumer reads the changelog of the day's DMS commit, scans a key
  *     range, queries
  *     `@snapshots` and `@files`, and reads yesterday's version back with
  *     `VERSION AS OF`.
  * The schedule crosses a 1st of the month, so the job's monthly compaction
  * folds the delete files; the run ends with the expire, orphan-removal and
  * rewrite procedures called from SQL.
  *
  * The model applies the reference MERGE's clauses to each key's last op:
  * an update replaces the row, a delete removes it, a re-insert of a key
  * that still exists matches no clause, a key the table lacks is inserted.
  */
final class CdcMorChangelog(ctx: Ctx, scale: Double) extends Workload(ctx) {
  import ctx.spark
  import Workload.{IngestionDatetime, Op}

  val codec = "gzip"
  private val orders0 = math.max(500L, (6000 * scale).toLong) // ~4 lines each
  private val newOrdersPerDay = math.max(5L, orders0 / 500)
  private val touchRate = 0.005
  private val fixRows = 60
  private val history = Workload.utcDay(2024, 2, 28) // day 2 is Mar 1: compaction

  private val cfg = SourceConfig("erp", "lineitem", Seq("order_id", "line_no"),
    Seq("modified_at"), mode = IngestMode.Cdc, optimize = Optimize.Storage)
  private val keys = cfg.naturalKeys
  private val dataSchema = StructType(Seq(
    StructField("order_id", LongType), StructField("line_no", IntegerType),
    StructField("part_id", LongType), StructField("quantity", IntegerType),
    StructField("price", DecimalType(12, 2)), StructField("discount", DecimalType(4, 2)),
    StructField("ship_date", DateType), StructField("comment", StringType),
    StructField("modified_at", TimestampType)))
  private val schema = dataSchema.add(StructField(IngestionDatetime, TimestampType))
  private val cols = schema.fieldNames.toSeq

  def days(seconds: Int): Int = math.max(3, seconds / 4)

  private def runAt(day: Int) = history.plusDays(day.toLong)
  private def epoch(day: Int): Long = runAt(day).toEpochSecond
  private val shipBase = java.time.LocalDate.of(2024, 1, 1)

  /** The data columns of key (o, l) at op version `v`, modified at `at`. */
  private def image(o: Long, l: Int, v: Int, at: Long): Seq[Any] = Seq(o, l,
    mix(200000, "part", o, l), 1 + mix(50, "qty", o, l, v).toInt,
    java.math.BigDecimal.valueOf(mix(10000000, "price", o, l, v), 2),
    java.math.BigDecimal.valueOf(mix(11, "disc", o, l, v), 2),
    java.sql.Date.valueOf(shipBase.plusDays(mix(400, "ship", o, l))),
    s"line $o-$l v$v", new Timestamp(at * 1000))

  /** 1 to 7 lines per order, by order id, so table size is the same for
    * every seed.
    */
  private def lines(o: Long): Int = 1 + (o % 7).toInt
  private def stamp(sec: Long) = new Timestamp(sec * 1000)
  private def withOp(data: Seq[Any], op: String) = Row.fromSeq(data :+ op)
  private def modified(r: Row, at: Long) = r.toSeq.take(8) :+ new Timestamp(at * 1000)

  /** Model: live rows in a stable order, their running fingerprint, and
    * the fingerprint after every step, keyed by (day, "dms" | "sql").
    */
  private val live = mutable.LinkedHashMap.empty[(Long, Int), Row]
  private val fp = new RunningFingerprint(schema, cols)
  private val fps = mutable.Map.empty[(Int, String), Fingerprint]
  private var changeCounts: Map[String, Long] = Map.empty
  private var rangeLo = 0L
  private var rangeExpected: (Long, Long, java.math.BigDecimal) = _
  private var nextOrder = 0L

  private def put(k: (Long, Int), r: Row): Unit = {
    live.get(k).foreach(fp.remove)
    live(k) = r
    fp.add(r)
  }
  private def drop(k: (Long, Int)): Unit = live.remove(k).foreach(fp.remove)

  private def cdcRoot = s"$rawRoot/erp/dms/cdc/erp/LINEITEM"
  private def dayDir(day: Int) =
    s"$cdcRoot/${runAt(day).format(DateTimeFormatter.ofPattern("yyyy/MM/dd"))}"
  private def fixDir(day: Int) = s"$rawRoot/corrections/$day"
  private def rangeHi = rangeLo + nextOrder / 100

  def generate(day: Int): Unit = {
    sourceRows = 0L
    sourceBytes = 0L
    val rnd = new java.util.SplittableRandom(ctx.seed * 1000003L + day)
    if (day == 0) {
      nextOrder = orders0
      val feed = for (o <- 0L until orders0; l <- 1 to lines(o)) yield {
        val data = image(o, l, 0, epoch(0) - 3600 + mix(3000, "t", o))
        put((o, l), Row.fromSeq(data :+ stamp(epoch(0))))
        withOp(data, "I")
      }
      writeRaw(feed, dataSchema.add(StructField(Op, StringType)), dayDir(0))
      fps((0, "sql")) = fp.value
    } else {
      val (dms, touched) = generateDms(day, rnd)
      changeCounts = dms.filter(_._2 > 0)
      generateFix(day, rnd, touched)
    }
    rangeLo = (rnd.nextDouble() * nextOrder * 0.98).toLong
    val inRange = live.valuesIterator.filter { r =>
      r.getLong(0) >= rangeLo && r.getLong(0) <= rangeHi
    }.toSeq
    rangeExpected = (inRange.size.toLong, inRange.map(_.getInt(3).toLong).sum,
      inRange.map(_.getDecimal(4)).foldLeft(java.math.BigDecimal.ZERO)(_ add _))
  }

  /** The day's DMS batch, applied to the model; returns its changelog counts
    * and the keys it touched.
    */
  private def generateDms(day: Int, rnd: java.util.SplittableRandom)
      : (Map[String, Long], Set[(Long, Int)]) = {
    val ts = epoch(day)
    def at(k: Int, o: Long, l: Int) = ts - 7200 + k * 60 + mix(50, "t", o, l)
    val stampNow = stamp(ts)
    // exact counts, so every seed does the same amount of work
    val chosen = pick(live.keys.toIndexedSeq, math.round(live.size * touchRate).toInt, rnd)
    val touched = chosen.zipWithIndex.map { case (k, i) =>
      (k, live(k), (i + 0.5) / chosen.size) // scenario by rank: 60/20/10/10 %
    }
    val feed = mutable.ArrayBuffer.empty[Row]
    var (ins, del, upd) = (0L, 0L, 0L)
    touched.foreach { case (k @ (o, l), r, s) =>
      if (s < 0.6) { // 1 to 3 updates
        val n = 1 + (o % 3).toInt
        (1 to n).foreach(i => feed += withOp(image(o, l, day * 10 + i, at(i, o, l)), "U"))
        put(k, Row.fromSeq(image(o, l, day * 10 + n, at(n, o, l)) :+ stampNow))
        upd += 1
      } else if (s < 0.8) { // delete
        feed += withOp(modified(r, at(1, o, l)), "D")
        drop(k)
        del += 1
      } else if (s < 0.9) { // delete, then re-insert: a matched insert is a no-op
        feed += withOp(modified(r, at(1, o, l)), "D")
        feed += withOp(image(o, l, day * 10 + 2, at(2, o, l)), "I")
      } else { // update, then delete
        feed += withOp(image(o, l, day * 10 + 1, at(1, o, l)), "U")
        feed += withOp(modified(r, at(2, o, l)), "D")
        drop(k)
        del += 1
      }
    }
    val fresh = for (o <- nextOrder until nextOrder + newOrdersPerDay; l <- 1 to lines(o))
      yield (o, l)
    fresh.zipWithIndex.foreach { case (k @ (o, l), i) =>
      val last = if (i % 10 < 3) 2 else 1
      feed += withOp(image(o, l, day * 10 + 1, at(1, o, l)), "I")
      if (last == 2) feed += withOp(image(o, l, day * 10 + 2, at(2, o, l)), "U")
      put(k, Row.fromSeq(image(o, l, day * 10 + last, at(last, o, l)) :+ stampNow))
      ins += 1
    }
    nextOrder += newOrdersPerDay
    writeRaw(feed.toSeq, dataSchema.add(StructField(Op, StringType)), dayDir(day))
    fps((day, "dms")) = fp.value
    (Map("insert" -> ins, "delete" -> del, "update_preimage" -> upd, "update_postimage" -> upd),
      touched.map(_._1).toSet ++ fresh)
  }

  /** The day's SQL correction, applied to the model: 80 % new keys, and
    * updates and deletes (3 to 1) of keys the DMS batch left alone.
    */
  private def generateFix(day: Int, rnd: java.util.SplittableRandom,
                          touched: Set[(Long, Int)]): Unit = {
    val ts = epoch(day) + 3600
    val picked = pick(live.keys.filterNot(touched).toIndexedSeq, fixRows / 5, rnd)
    val feed = mutable.ArrayBuffer.empty[Row]
    picked.zipWithIndex.foreach { case (k @ (o, l), i) =>
      if (i % 4 < 3) {
        val next = Row.fromSeq(image(o, l, day * 10 + 9, ts) :+ stamp(ts))
        feed += Row.fromSeq(next.toSeq :+ "U")
        put(k, next)
      } else {
        feed += Row.fromSeq(live(k).toSeq :+ "D")
        drop(k)
      }
    }
    val nIns = fixRows - picked.size
    (0 until nIns).foreach { i =>
      val o = 1000000000L + day * 1000L + i
      val next = Row.fromSeq(image(o, 1, day * 10 + 9, ts) :+ stamp(ts))
      feed += Row.fromSeq(next.toSeq :+ "I")
      put((o, 1), next)
    }
    writeRaw(feed.toSeq, schema.add(StructField(Op, StringType)), fixDir(day))
    spark.read.parquet(fixDir(day)).createOrReplaceTempView("perfbench_fix")
    fps((day, "sql")) = fp.value
  }

  private def jobFor(t: Target, day: Int) =
    new DmsStyleJob(spark, cfg, "erp", "erp", rawRoot, t.warehouse, t.outputs, runAt(day))

  def tableRoot(t: Target): Path = Paths.get(jobFor(t, 0).table.root.toString)
  private def table(t: Target): SnapshotTable = SnapshotTable.at(tableRoot(t).toString)
  private def ident(t: Target, suffix: String = "") = s"graft.`${tableRoot(t)}$suffix`"

  /** Table version after each step, per target. */
  private val versions = mutable.Map.empty[(String, Int, String), Long]

  def bootstrap(t: Target): Unit = {
    jobFor(t, 0).run()
    versions((t.name, 0, "sql")) = table(t).currentVersion
  }

  private def record(t: Target, day: Int, step: String): Unit =
    versions((t.name, day, step)) = table(t).currentVersion

  private def check(t: Target, day: Int, step: String): Unit = {
    val df = table(t).read(spark)
    checkColumns(s"day $day $step table", df, cols)
    checkFingerprint(s"day $day $step table", df, cols, fps((day, step)))
  }

  def steps(t: Target, day: Int): Seq[Step] = Seq(
    Step("dms job", () => {
      val j = jobFor(t, day)
      if (!t.tracer.enabled) j.run() else replay(t, j, day)
    }, () => check(t, day, "dms"), () => record(t, day, "dms")),
    Step("sql correction", () => t.tracer.span("sql.merge") {
      val before = if (t.tracer.enabled) table(t).currentManifest else null
      spark.sql(s"""MERGE INTO ${ident(t)} t USING perfbench_fix s
        |ON t.order_id = s.order_id AND t.line_no = s.line_no
        |WHEN MATCHED AND s.op = 'D' THEN DELETE
        |WHEN MATCHED AND s.op = 'U' THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      if (before != null) chargeCommit(t, before, table(t).currentManifest)
    }, () => check(t, day, "sql"), () => record(t, day, "sql")))

  /** `DmsStyleJob.run()` call by call: dedup, then the merge-on-read
    * commit with the deduplicated batch materialized between them.
    */
  private def replay(t: Target, j: DmsStyleJob, day: Int): Unit = {
    val tr = t.tracer
    val tb = j.table
    tr.span("ingest.run") {
      val source = Ingestion.stamp(j.dataframe(), j.ingestionTs, cfg.flags.keepDeletes)
      val (src, _) = Ingestion.alignSchemas(source, tb.read(spark), keepSourceCols = Seq(Op))
      val deduped = tr.span("merge.dedup") {
        val d = ChangeSet.dedupLatest(src, keys, cfg.updatedAtFields).cache()
        t.add("merge.change_rows", d.count().toDouble)
        d
      }
      t.add("merge.rows_read", fps((day - 1, "sql")).rows.toDouble)
      val tt = (df: DataFrame) => Ingestion.alignSchemas(source.drop(Op), df)._2
      val before = tb.currentManifest
      try tr.span("table.commit") {
        tb.mergeMoR(spark, deduped, keys, cfg.flags.keepDeletes, targetTransform = tt)
      } finally deduped.unpersist()
      chargeCommit(t, before, tb.currentManifest)
      maintenance(t, tb, runAt(day))
      tr.span("ingest.outputs") { j.writeOutputs() }
    }
  }

  def reads(t: Target, day: Int): Seq[TimedRead] = {
    val tb = table(t)
    val prev = versions((t.name, day - 1, "sql"))
    val dms = versions((t.name, day, "dms"))
    val cur = versions((t.name, day, "sql"))
    val liveRows = fps((day, "sql")).rows
    val expectedChanges = changeCounts
    val (lo, hi, expectedRange) = (rangeLo, rangeHi, rangeExpected)
    def row(r: Any) = r.asInstanceOf[Row]
    Seq(
      TimedRead("changelog", () => t.tracer.span("table.changelog") {
        val rows = tb.readChangelog(spark, prev, dms, keys)
          .groupBy("_change_type").count().collect()
        t.add("table.changelog.rows", rows.map(_.getLong(1)).sum.toDouble)
        rows
      }, rows => {
        val got = rows.asInstanceOf[Array[Row]].map(r => r.getString(0) -> r.getLong(1)).toMap
        require(got == expectedChanges,
          s"day $day changelog: $got, model expects $expectedChanges")
      }),
      TimedRead("key-range", () => scan(t, tb, "table.scan") {
        tb.readWhere(spark, col("order_id").between(lo, hi))
          .agg(count(lit(1)), sum("quantity"), sum("price"))
      }, rows => {
        val r = rows.asInstanceOf[Array[Row]].head
        val got = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
          if (r.isNullAt(2)) java.math.BigDecimal.ZERO else r.getDecimal(2))
        require(got._1 == expectedRange._1 && got._2 == expectedRange._2 &&
          got._3.compareTo(expectedRange._3) == 0,
          s"day $day key-range read: $got, model expects $expectedRange")
      }),
      TimedRead("snapshots", () => t.tracer.span("table.meta") {
        spark.sql(s"SELECT count(*), max(version) FROM ${ident(t, "@snapshots")}").head()
      }, r => require(row(r).getLong(1) == cur && row(r).getLong(0) >= 1 + 2 * day,
        s"day $day @snapshots: ${row(r)}, table is at v$cur after ${1 + 2 * day} commits")),
      TimedRead("files", () => t.tracer.span("table.meta") {
        spark.sql(s"SELECT count(*), sum(record_count) FROM ${ident(t, "@files")}").head()
      }, r => require(row(r).getLong(1) >= liveRows,
        s"day $day @files: ${row(r)}, model holds $liveRows live rows")),
      TimedRead("version-as-of", () => t.tracer.span("table.meta.timetravel") {
        Fingerprint.of(spark.sql(s"SELECT * FROM ${ident(t)} VERSION AS OF $prev"), cols)
      }, fp => require(fp == fps((day - 1, "sql")),
        s"day $day VERSION AS OF $prev: $fp, model expects ${fps((day - 1, "sql"))}")))
  }

  override def finish(t: Target): Seq[Step] = {
    val root = tableRoot(t)
    val last = fps((fps.keys.map(_._1).max, "sql"))
    def call(span: String, sql: String) = Step(span, () => t.tracer.span("sql.call") {
      t.tracer.span(span) { spark.sql(sql).collect(); () }
    }, () => checkFingerprint(s"after $span", table(t).read(spark), cols, last))
    val now = System.currentTimeMillis()
    Seq(
      call("table.maint.expire", s"CALL graft.system.expire_snapshots(table => '$root', " +
        s"older_than => $now, retain_last => 5)"),
      call("table.maint.orphans", s"CALL graft.system.remove_orphan_files(table => '$root', " +
        s"older_than => $now)"),
      call("table.maint.compact", s"CALL graft.system.rewrite_data_files(table => '$root')"))
  }

  def expectedRows: DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(live.values.toSeq, ctx.nproc), schema)
}
