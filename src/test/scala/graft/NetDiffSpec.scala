package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.table.NetDiff

/** NetDiff must be EXACTLY exceptAll's multiset semantics — the
  * fingerprint pre-pass is a shuffle-volume optimization, never a
  * semantics change. Property: for arbitrary overlapping multisets
  * (duplicates, nulls, arrays, wide strings), NetDiff.diff ≡
  * (exceptAll, exceptAll).
  */
class NetDiffSpec extends SparkSpec {
  import spark.implicits._

  private def assertSame(before: DataFrame, after: DataFrame): Unit = {
    val (ins, del) = NetDiff.diff(before, after)
    val insRef = after.exceptAll(before)
    val delRef = before.exceptAll(after)
    assert(ins.exceptAll(insRef).isEmpty && insRef.exceptAll(ins).isEmpty,
      "inserts diverge from exceptAll")
    assert(del.exceptAll(delRef).isEmpty && delRef.exceptAll(del).isEmpty,
      "deletes diverge from exceptAll")
  }

  test("netdiff equals exceptAll on overlapping multisets with dupes and nulls") {
    val before = Seq(
      (1L, Option("a"), 1.5), (1L, Option("a"), 1.5), // dup kept as multiset
      (2L, Option("b"), 2.0), (3L, None, 3.0), (4L, Option("d"), 4.0))
      .toDF("k", "s", "v")
    val after = Seq(
      (1L, Option("a"), 1.5),                          // one copy removed
      (2L, Option("b"), 2.5),                          // changed
      (3L, None, 3.0),                                 // unchanged null
      (5L, Option("e"), 5.0), (5L, Option("e"), 5.0))  // new dup
      .toDF("k", "s", "v")
    assertSame(before, after)
    val (ins, del) = NetDiff.diff(before, after)
    assert(ins.count() == 3 && del.count() == 3)
  }

  test("subtractAll equals exceptAll on multisets with dupes and nulls") {
    // r15: the fp-bounded one-sided subtraction (pass-through rows whose
    // fingerprint matches no subtrahend row) must be EXACTLY exceptAll
    val a = Seq(
      (1L, Option("a"), 1.5), (1L, Option("a"), 1.5), (1L, Option("a"), 1.5),
      (2L, Option("b"), 2.0), (3L, None, 3.0), (4L, Option("d"), 4.0))
      .toDF("k", "s", "v")
    val b = Seq(
      (1L, Option("a"), 1.5), (1L, Option("a"), 1.5), // cancels 2 of 3
      (3L, None, 3.0),                                 // cancels the null row
      (9L, Option("z"), 9.0))                          // matches nothing
      .toDF("k", "s", "v")
    val got = NetDiff.subtractAll(a, b)
    val ref = a.exceptAll(b)
    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty,
      "subtractAll diverges from exceptAll")
    assert(got.count() == 3) // one surviving (1,a) + (2,b) + (4,d)
  }

  test("applyChangelog's union identity: (A⊎B)∖C ≡ A∖(C∖B) ⊎ (B∖C)") {
    // the keyless apply's multiset algebra — per-row multiplicities
    // max(0, a+b−c) on both sides; exercised over overlapping dupes
    val A = Seq((1L, "x"), (1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "s")
    val B = Seq((1L, "x"), (4L, "w"), (4L, "w")).toDF("k", "s")
    val C = Seq((1L, "x"), (1L, "x"), (1L, "x"), (4L, "w"), (9L, "q"))
      .toDF("k", "s")
    val lhs = A.unionByName(B).exceptAll(C)
    val (bNet, cNet) = NetDiff.diff(C, B) // (B∖C, C∖B)
    val rhs = NetDiff.subtractAll(A, cNet).unionByName(bNet)
    assert(lhs.exceptAll(rhs).isEmpty && rhs.exceptAll(lhs).isEmpty,
      "identity diverges from the reference exceptAll pipeline")
  }

  test("netdiff handles wide rows and array columns") {
    val before = spark.range(0, 500).select(
      col("id"),
      concat(lit("txt-"), col("id"), lit("x" * 2000)).as("text"),
      array((0 to 15).map(i => (col("id") * i).cast("float")): _*).as("emb"))
    // change exactly 3 rows, drop 2, add 2
    val after = before
      .filter(col("id") =!= 10 && col("id") =!= 11)
      .withColumn("text",
        when(col("id").isin(20, 21, 22), lit("changed")).otherwise(col("text")))
      .unionByName(spark.range(1000, 1002).select(
        col("id"), lit("new").as("text"),
        array(lit(1f)).as("emb")))
    assertSame(before, after)
    val (ins, del) = NetDiff.diff(before, after)
    assert(ins.count() == 5 && del.count() == 5)
  }

  test("identical sides produce empty diffs") {
    val df = spark.range(0, 100).select(col("id"), (col("id") % 7).as("g"))
    val (ins, del) = NetDiff.diff(df, df)
    assert(ins.isEmpty && del.isEmpty)
  }

  test("map columns diff via sorted-entry canonicalization") {
    // Spark 4 refuses set ops AND hashing on MapType outright, so there
    // is no exceptAll reference to compare against — the diff must
    // canonicalize maps itself and restore them on output.
    val before = Seq((1L, Map("a" -> 1, "b" -> 2)), (2L, Map("b" -> 2)))
      .toDF("k", "m")
    // same entries, opposite insertion order: MUST compare equal
    val after = Seq((1L, Map("b" -> 2, "a" -> 1)), (3L, Map("c" -> 3)))
      .toDF("k", "m")
    val (ins, del) = NetDiff.diff(before, after)
    assert(ins.count() == 1 && del.count() == 1)
    assert(ins.select("k").as[Long].head() == 3L)
    assert(del.select("k").as[Long].head() == 2L)
    // output schema restores the MAP type and its values
    assert(ins.schema("m").dataType.typeName == "map")
    assert(ins.select("m").as[Map[String, Int]].head() == Map("c" -> 3))
  }

  test("maps nested in structs and arrays, and null maps, diff exactly") {
    val before = Seq(
      (1L, Some(Map("x" -> 10L)), Seq(Map("p" -> 1))),
      (2L, None, Seq.empty[Map[String, Int]]),
      (3L, Some(Map("y" -> 30L)), Seq(Map("q" -> 2), Map("r" -> 3))))
      .toDF("k", "m", "arr")
      .withColumn("nested", struct(col("k").as("id"), col("m").as("inner")))
    val changed = before.withColumn("m",
      when(col("k") === 3, map(lit("y"), lit(31L))).otherwise(col("m")))
      .withColumn("nested", struct(col("k").as("id"), col("m").as("inner")))
    val (ins, del) = NetDiff.diff(before, changed)
    assert(ins.count() == 1 && del.count() == 1)
    assert(ins.select("k").as[Long].head() == 3L)
    // identical sides (incl. null map + empty array) produce empty diffs
    val (i2, d2) = NetDiff.diff(before, before)
    assert(i2.isEmpty && d2.isEmpty)
  }

  test("map values may be null; entry order still canonicalizes") {
    val before = spark.sql(
      "SELECT 1L AS k, map('a', CAST(NULL AS INT), 'b', 2) AS m " +
        "UNION ALL SELECT 2L, map('c', 3)")
    val after = spark.sql(
      "SELECT 1L AS k, map('b', 2, 'a', CAST(NULL AS INT)) AS m " + // reordered
        "UNION ALL SELECT 3L, map('d', CAST(NULL AS INT))")
    val (ins, del) = NetDiff.diff(before, after)
    assert(ins.count() == 1 && del.count() == 1)
    assert(ins.select("k").as[Long].head() == 3L)
    assert(del.select("k").as[Long].head() == 2L)
  }

  test("variant columns are refused loudly") {
    val df = Seq((1L, """{"a":1}""")).toDF("k", "j")
      .select(col("k"), parse_json(col("j")).as("v"))
    val e = intercept[IllegalArgumentException](NetDiff.diff(df, df))
    assert(e.getMessage.contains("VARIANT"))
  }

  test("user columns named like the fingerprint temps diff exactly") {
    // the fp pre-pass adds two temp columns; a user column of the same
    // name (any casing) must neither be replaced nor leak fingerprints
    val before = Seq((1L, 10L, 7L), (2L, 20L, 8L), (3L, 30L, 9L))
      .toDF("k", "_graft_fp1", "_GRAFT_FP2")
    val after = Seq((1L, 10L, 7L), (2L, 21L, 8L), (4L, 40L, 6L))
      .toDF("k", "_graft_fp1", "_GRAFT_FP2")
    assertSame(before, after)
    val (ins, del) = NetDiff.diff(before, after)
    assert(ins.columns.toSeq == Seq("k", "_graft_fp1", "_GRAFT_FP2"))
    assert(ins.orderBy("k").collect().map(_.toSeq).toSeq ==
      Seq(Seq(2L, 21L, 8L), Seq(4L, 40L, 6L)))
    assert(del.orderBy("k").collect().map(_.toSeq).toSeq ==
      Seq(Seq(2L, 20L, 8L), Seq(3L, 30L, 9L)))
    val got = NetDiff.subtractAll(before, after)
    assert(got.columns.toSeq == before.columns.toSeq)
    assert(got.orderBy("k").collect().map(_.toSeq).toSeq ==
      Seq(Seq(2L, 20L, 8L), Seq(3L, 30L, 9L)))
  }
}
