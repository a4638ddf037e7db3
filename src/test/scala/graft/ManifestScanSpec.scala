package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField}

import graft.table.{CorruptManifestException, SnapshotTable}

/** Reads plan from the manifest ([[graft.table.ManifestFileIndex]]):
  * partition values come from each entry's partition map, lengths from
  * its recorded size, and the sequence number and position identity are
  * constant columns of the index. Every case compares the rows read with
  * the rows written.
  */
class ManifestScanSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-mscan-$tag-").toString

  private def rowsOf(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toSeq.mkString("|"))
      .sorted.toSeq

  private def assertRows(got: DataFrame, want: DataFrame): Unit = {
    val cols = want.columns.toSeq
    assert(rowsOf(got, cols) == rowsOf(want, cols))
  }

  private def scans(df: DataFrame): Seq[FileSourceScanExec] =
    collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }

  test("escaped partition values read back verbatim across commits") {
    val t = SnapshotTable.at(tmp("esc"))
    val values = Seq("a/b", "a=b", "100%", "x y", "a%2Fb", "plain")
    val all = values.zipWithIndex.map { case (p, i) => (i.toLong, p) }
    t.createOrReplace(all.take(3).toDF("id", "p"), Seq("p"))
    t.append(spark, all.drop(3).toDF("id", "p"))
    assertRows(t.read(spark), all.toDF("id", "p"))
    values.foreach { v =>
      assert(t.read(spark).filter(col("p") === v).count() == 1L, v)
    }
  }

  test("null partition values read back as NULL") {
    val t = SnapshotTable.at(tmp("null"))
    val a = Seq((1L, Option("x"), Option(1)), (2L, None, Option(2)),
      (3L, Option("y"), None))
    val b = Seq((4L, None, None), (5L, Option("x"), Option(1)))
    t.createOrReplace(a.toDF("id", "s", "n"), Seq("s", "n"))
    t.append(spark, b.toDF("id", "s", "n"))
    val want = (a ++ b).toDF("id", "s", "n")
    assertRows(t.read(spark), want)
    assert(t.read(spark).filter(col("s").isNull).count() == 2L)
    assert(t.read(spark).filter(col("n").isNull).count() == 2L)
  }

  test("int, date and timestamp partitions under a non-UTC session") {
    val zone = "spark.sql.session.timeZone"
    val prior = spark.conf.get(zone)
    spark.conf.set(zone, "America/Los_Angeles")
    try {
      def batch(id: Long, i: Int, d: String, ts: String) = spark.sql(
        s"SELECT CAST($id AS BIGINT) AS id, $i AS i, DATE'$d' AS d, " +
          s"TIMESTAMP'$ts' AS ts")
      val a = batch(1L, 7, "2024-03-09", "2024-03-09 23:15:30.123456")
        .unionByName(batch(2L, -3, "1999-12-31", "2024-07-01 08:00:00"))
      val b = batch(3L, 7, "2024-03-09", "2024-11-03 01:30:00")
      val t = SnapshotTable.at(tmp("tz"))
      t.createOrReplace(a, Seq("i", "d", "ts"))
      t.append(spark, b)
      val want = a.unionByName(b)
      assertRows(t.read(spark), want)
      // the values are the same INSTANTS, not merely the same strings
      assert(t.read(spark).agg(sum(unix_micros(col("ts")))).head ==
        want.agg(sum(unix_micros(col("ts")))).head)
      assert(t.read(spark)
        .filter(col("ts") === lit("2024-07-01 08:00:00").cast("timestamp"))
        .count() == 1L)
    } finally spark.conf.set(zone, prior)
  }

  test("partition filters prune files inside the one scan (numFiles)") {
    val t = SnapshotTable.at(tmp("prune"))
    def batch(lo: Int) =
      (lo until lo + 40).map(i => (i.toLong, i % 4)).toDF("id", "p")
        .repartition(1)
    t.createOrReplace(batch(0), Seq("p"))
    (1 to 4).foreach(k => t.append(spark, batch(k * 100)))
    val live = t.currentManifest.files
    val inP2 = live.count(_.partition("p") == "2")
    assert(inP2 == 5 && live.size == 20)
    val df = t.read(spark).filter(col("p") === 2)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq ==
      (0 to 4).flatMap(k => (k * 100 until k * 100 + 40).filter(_ % 4 == 2))
        .map(_.toLong))
    val ss = scans(df)
    assert(ss.size == 1, s"one scan expected, got ${ss.size}")
    assert(ss.head.metrics("numFiles").value == inP2,
      s"pruned scan read ${ss.head.metrics("numFiles").value} files")
  }

  test("position identity drives positional deletes and deletion vectors") {
    val parts = Seq("a/b", "x y", "100%")
    def batch(lo: Int) = (lo until lo + 30)
      .map(i => (i.toLong, parts(i % 3), s"v$i")).toDF("id", "p", "s")
    val written = batch(0).unionByName(batch(100)).unionByName(batch(200))
    val want = written.filter(col("id") % 7 =!= 0L && col("id") % 5 =!= 0L)
    Seq(Map.empty[String, String], Map("format-version" -> "3")).foreach {
      props =>
        val t = SnapshotTable.at(tmp("pos"))
        t.createOrReplace(batch(0), Seq("p"), properties = props)
        t.append(spark, batch(100))
        t.append(spark, batch(200))
        t.deleteWherePositional(spark, col("id") % 7 === 0L)
        t.deleteWherePositional(spark, col("id") % 5 === 0L)
        assert(t.currentManifest.deleteFiles.exists(_.positional))
        assertRows(t.read(spark), want)
        if (props.nonEmpty) {
          val lin = t.readLineage(spark)
          assert(lin.count() == want.count())
          assert(lin.select("_row_id").distinct().count() == want.count(),
            "every surviving row keeps a distinct inherited row id")
        }
    }
  }

  test("mixed read shapes: partition evolution, rename/widen, defaults, " +
      "adopted files") {
    val root = tmp("shapes")
    val t = SnapshotTable.at(root)
    def batch(lo: Int) = (lo until lo + 12)
      .map(i => (i.toLong, i % 2, i % 3, i)).toDF("id", "p", "q", "n")
    t.createOrReplace(batch(0), Seq("p"))                   // spec {p}
    val ext = tmp("shapes-ext")
    batch(100).write.mode("overwrite").partitionBy("p").parquet(ext)
    t.addFiles(spark, ext)                                  // adopted {p}
    t.evolvePartitioning(spark, Seq("q"))
    t.append(spark, batch(200))                             // spec {q}
    t.renameColumn("n", "m")
    t.widenColumn("m", LongType)
    t.addColumns(Seq(StructField("tier", StringType)),
      defaults = Map("tier" -> "'bronze'"))
    t.append(spark, (300 until 312).map(i => (i.toLong, i % 2, i % 3,
        i.toLong, if (i % 2 == 0) "gold" else null))
      .toDF("id", "p", "q", "m", "tier"))
    t.setWriteDefault("tier", Some("'silver'"))
    spark.sql(s"INSERT INTO graft.`$root` (id, p, q, m) VALUES (400, 0, 1, 400)")
    val pre = Seq(0, 100, 200).map(batch).reduce(_ unionByName _)
      .select(col("id"), col("p"), col("q"), col("n").cast("long").as("m"),
        lit("bronze").as("tier"))
    val post = (300 until 312).map(i => (i.toLong, i % 2, i % 3, i.toLong,
        if (i % 2 == 0) "gold" else null)).toDF("id", "p", "q", "m", "tier")
      .unionByName(Seq((400L, 0, 1, 400L, "silver"))
        .toDF("id", "p", "q", "m", "tier"))
    val want = pre.unionByName(post)
    assertRows(t.read(spark), want)
    assertRows(t.readWhere(spark, col("q") === 1), want.filter(col("q") === 1))
    assertRows(t.read(spark).filter(col("p") === 0), want.filter(col("p") === 0))
  }

  test("entries recorded without a size still read") {
    val root = tmp("nosize")
    val t = SnapshotTable.at(root)
    val a = (1 to 30).map(i => (i.toLong, i % 3)).toDF("id", "p")
    val b = (31 to 40).map(i => (i.toLong, i % 3)).toDF("id", "p")
    t.createOrReplace(a, Seq("p"))
    t.append(spark, b)
    val mf = Paths.get(root, "meta", s"v${t.currentVersion}.json")
    val json = new String(Files.readAllBytes(mf), StandardCharsets.UTF_8)
    val stripped = json.replaceAll(""","bytes":\d+""", "")
    assert(stripped != json)
    Files.write(mf, stripped.getBytes(StandardCharsets.UTF_8))
    val fresh = SnapshotTable.at(root)
    assert(fresh.currentManifest.files.forall(_.bytes == -1L))
    assertRows(fresh.read(spark), a.unionByName(b))
  }

  test("a truncated or garbled manifest fails naming the file") {
    val root = tmp("corrupt")
    val t = SnapshotTable.at(root)
    t.createOrReplace((1 to 10).map(i => (i.toLong, s"s$i")).toDF("id", "s"))
    val mf = Paths.get(root, "meta", s"v${t.currentVersion}.json")
    val good = Files.readAllBytes(mf)
    val text = new String(good, StandardCharsets.UTF_8)
    val bad = Seq(
      "truncated" -> text.take(text.length / 2),
      "cut inside a string" -> text.take(text.indexOf("schemaDdl") + 4),
      "garbled" -> text.replaceFirst("\"files\":\\[", "\"files\":[}"),
      "wrong type" -> text.replaceFirst("\"version\":(\\d+)", "\"version\":\"$1\""),
      "empty" -> "")
    bad.foreach { case (label, body) =>
      assert(body != text, label)
      Files.write(mf, body.getBytes(StandardCharsets.UTF_8))
      val e = intercept[CorruptManifestException](
        SnapshotTable.at(root).read(spark))
      assert(e.getMessage.contains(mf.toString), s"$label: ${e.getMessage}")
      assert(!e.getCause.isInstanceOf[IndexOutOfBoundsException], label)
    }
    Files.write(mf, good)
    assert(SnapshotTable.at(root).read(spark).count() == 10L)
  }
}
