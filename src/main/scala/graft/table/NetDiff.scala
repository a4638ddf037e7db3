package graft.table

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multiset symmetric diff with a FINGERPRINT pre-pass — the changelog's
  * `after \ before` / `before \ after` without shuffling full rows.
  *
  * `exceptAll` hash-partitions WHOLE rows: on a wide schema (long text
  * columns, embedding arrays) the shuffle writes the entire touched-file
  * span twice even when two rows actually changed. The pre-pass shuffles
  * 12-byte fingerprints instead:
  *
  *  1. fingerprint every row on both sides (`xxhash64` + murmur3 `hash`
  *     over all columns — two independent codegen'd hash families,
  *     96 bits combined);
  *  2. `groupBy(fp).count()` each side — map-side partial aggregation
  *     means the shuffle carries one (fp, count) pair per DISTINCT row
  *     per map task, never the row bytes;
  *  3. keep fingerprints whose multiplicities DIFFER (full-outer join of
  *     the two count sides — changed-row volume, tiny);
  *  4. semi-join each side's wide rows against that set and run the
  *     EXACT `exceptAll` over the survivors only.
  *
  * Step 4 keeps the diff exact under single-side collisions: two
  * different rows sharing a fingerprint merely ride into the final
  * `exceptAll`, which compares real values. The one probabilistic case
  * is a CROSS-side collision with equal multiplicities (a removed row
  * and an added row hashing identically in both families) — birthday
  * bound ≈ n²/2⁹⁷, about 6e-10 at ten billion changed-span rows;
  * accepted and documented here (Iceberg's own changelog reads
  * net-diff via row hashes too).
  *
  * MAP columns: Spark 4 refuses BOTH hashing and set operations on
  * MapType (`UNSUPPORTED_FEATURE.SET_OPERATION_ON_MAP_TYPE`), so there
  * is no `exceptAll` to fall back to. Instead every map is CANONICALIZED
  * to `array_sort(map_entries(m))` (recursively — maps nested in
  * structs/arrays/values too) before the diff and rebuilt with
  * `map_from_entries` on the way out. Sorted-entry equality IS map
  * equality (Spark maps carry unique keys), so the diff stays exact.
  * VARIANT has no equality at all — refused loudly.
  */
object NetDiff {

  /** Does this type contain a map anywhere (needs the canonical twin)? */
  private[table] def hasMap(dt: DataType): Boolean = dt match {
    case _: MapType    => true
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case a: ArrayType  => hasMap(a.elementType)
    case _             => false
  }

  private[table] def hasVariant(dt: DataType): Boolean = dt match {
    case _: VariantType => true
    case m: MapType     => hasVariant(m.keyType) || hasVariant(m.valueType)
    case s: StructType  => s.fields.exists(f => hasVariant(f.dataType))
    case a: ArrayType   => hasVariant(a.elementType)
    case _              => false
  }

  /** map<k,v> → array<struct<key,value>> (entry-sorted), recursively. */
  private def canonType(dt: DataType): DataType = dt match {
    case m: MapType =>
      ArrayType(
        StructType(Seq(
          StructField("key", canonType(m.keyType), nullable = false),
          StructField("value", canonType(m.valueType), m.valueContainsNull))),
        containsNull = false)
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = canonType(f.dataType))))
    case a: ArrayType => a.copy(elementType = canonType(a.elementType))
    case other        => other
  }

  private def canon(c: Column, dt: DataType): Column = dt match {
    case m: MapType =>
      array_sort(transform(map_entries(c), e =>
        struct(
          canon(e.getField("key"), m.keyType).as("key"),
          canon(e.getField("value"), m.valueType).as("value"))))
    case s: StructType if hasMap(s) =>
      when(c.isNull, lit(null).cast(canonType(s))).otherwise(
        struct(s.fields.toSeq.map(f =>
          canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case a: ArrayType if hasMap(a.elementType) =>
      transform(c, e => canon(e, a.elementType))
    case _ => c
  }

  private def restore(c: Column, dt: DataType): Column = dt match {
    case m: MapType =>
      map_from_entries(transform(c, e =>
        struct(
          restore(e.getField("key"), m.keyType).as("key"),
          restore(e.getField("value"), m.valueType).as("value"))))
    case s: StructType if hasMap(s) =>
      when(c.isNull, lit(null).cast(dt)).otherwise(
        struct(s.fields.toSeq.map(f =>
          restore(c.getField(f.name), f.dataType).as(f.name)): _*))
    case a: ArrayType if hasMap(a.elementType) =>
      transform(c, e => restore(e, a.elementType))
    case _ => c
  }

  /** The signed-multiplicity column [[netted]] appends: per distinct
    * row, `count(after) - count(before)` (never 0 — zeros are the
    * unchanged rows and filter out).
    */
  val NetCol = "_graft_net"

  /** Step caches this object created and has not yet released. The
    * returned frames are LAZY, so NetDiff itself has no materialization
    * point to pair an unpersist with — engine-internal consumers that DO
    * fully materialize a feed (applyChangelog's merge/commit) call
    * [[releaseCaches]] when done; Verify/Bench clear per-query caches
    * centrally; a long-lived session walking many changelog steps can
    * call it explicitly. Unpersisting is always correctness-safe (a
    * released frame recomputes), so the global registry needs no
    * per-consumer scoping.
    */
  private val stepCaches =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  private def reg(df: DataFrame): DataFrame = { stepCaches.add(df); df }

  /** Unpersist every step cache created since the last release. */
  def releaseCaches(): Unit = {
    var df = stepCaches.poll()
    while (df != null) { df.unpersist(false); df = stepCaches.poll() }
  }

  /** (after \ before, before \ after), multiset semantics — exactly
    * `(after.exceptAll(before), before.exceptAll(after))` but with the
    * fingerprint-bounded shuffle above, and BOTH legs derived from the
    * ONE ±1-netting aggregation of [[netted]] (two `exceptAll`s would
    * each union both sides and aggregate — the same pass twice).
    * Schemas must already align (same columns, same order), as
    * exceptAll requires. `prepass` as in [[netted]].
    */
  def diff(before: DataFrame, after: DataFrame,
           prepass: Boolean = true): (DataFrame, DataFrame) = {
    // both legs reference the netting aggregate → cache it (changed-row
    // volume; registered for release like every step cache)
    val n = reg(netted(before, after, prepass).cache())
    val net = col(NetCol)
    def leg(keep: Column, mult: Column): DataFrame =
      n.filter(keep)
        .withColumn(NetCol, explode(sequence(lit(1L), mult)))
        .drop(NetCol)
    (leg(net > 0, net), leg(net < 0, -net))
  }

  /** The single-pass NET of `after` vs `before`: one row per distinct
    * row whose multiplicity CHANGED, carrying the signed delta in
    * [[NetCol]] (`> 0` = net-inserted that many times, `< 0` =
    * net-deleted). This is the ±1-tagged groupBy both `exceptAll` legs
    * share — consumers that classify rather than replicate (the keyed
    * changelog's update pairing) read it directly and skip the
    * replication explode entirely. Uncached: single-reference consumers
    * pay one pass; [[diff]] caches its own copy.
    *
    * `prepass = false` skips the fingerprint pre-pass and nets with the
    * ±1 aggregation alone. The changelog steps use it: counting
    * fingerprints first reads each side twice, which costs more than
    * the full-row shuffle it saves — on a change-sized merge-on-read
    * step, and on copy-on-write rewrite steps as well. Without the
    * pre-pass, `clusterBy` names the columns the consumer partitions by
    * (the keyed changelog's key window): the tagged union shuffles once
    * by them, and both the aggregation and the window reuse that
    * partitioning instead of shuffling twice.
    */
  def netted(before: DataFrame, after: DataFrame,
             prepass: Boolean = true,
             clusterBy: Seq[String] = Nil): DataFrame = {
    val schema = before.schema
    val variantCols = schema.fields.filter(f => hasVariant(f.dataType))
    require(variantCols.isEmpty,
      s"NetDiff: column(s) ${variantCols.map(_.name).mkString(", ")} contain " +
        "VARIANT, which defines no equality — a row diff over them is " +
        "meaningless. Project them away (or cast to a comparable type) first.")
    require(!schema.fieldNames.contains(NetCol),
      s"NetDiff: input already carries a $NetCol column")
    val net: (DataFrame, DataFrame) => DataFrame =
      if (prepass) nettedHashable else signedNet(_, _, clusterBy)
    if (schema.fields.exists(f => hasMap(f.dataType))) {
      def canonDf(df: DataFrame): DataFrame =
        df.select(schema.fields.toSeq.map(f =>
          canon(col(f.name), f.dataType).as(f.name)): _*)
      val n = net(canonDf(before), canonDf(after))
      n.select(schema.fields.toSeq.map(f =>
        restore(col(f.name), f.dataType).as(f.name)) :+ col(NetCol): _*)
    } else net(before, after)
  }

  /** The two fingerprint column names, chosen so neither matches an
    * input column under Spark's case-insensitive resolution —
    * `withColumn` would otherwise REPLACE a user column of that name and
    * feed fingerprints into the output.
    */
  private def fpNames(cols: Seq[String]): (String, String) = {
    val taken = cols.map(_.toLowerCase).toSet
    def fresh(base: String): String =
      Iterator.iterate(base)(_ + "_").find(n => !taken(n)).get
    (fresh("_graft_fp1"), fresh("_graft_fp2"))
  }

  /** ONE-SIDED multiset subtraction `a ∖ b` (exactly `a.exceptAll(b)`)
    * with the big side NEVER full-row-shuffled when `b` is small: rows
    * of `a` whose fingerprint appears nowhere in `b` cannot equal any
    * `b` row (row equality ⇒ fingerprint equality) and PASS THROUGH
    * map-side; only the fp-matching slice runs the exact `exceptAll`.
    * The applyChangelog shape — `table ∪ inserts ∖ deletes` — subtracts
    * a changed-row-sized `b` from a TABLE-sized `a`: plain exceptAll
    * hash-partitions every wide row of both sides, this shuffles the
    * deletes' fingerprints plus the (tiny) matching slice (guide §2.3 /
    * §8: decide with a lightweight proxy, move heavy bytes once). When
    * `b`'s fp set outgrows the broadcast threshold the anti/semi joins
    * degrade to an fp-keyed shuffle of `a` — still narrower keys than
    * all-columns hashing, never worse. Non-hashable schemas (maps —
    * Spark refuses both hashing and set ops; VARIANT) fall back to
    * plain `exceptAll`, preserving today's behavior exactly.
    */
  def subtractAll(a: DataFrame, b: DataFrame): DataFrame = {
    val schema = a.schema
    val hashable = !schema.fields.exists(f =>
      hasMap(f.dataType) || hasVariant(f.dataType))
    if (!hashable) return a.exceptAll(b)
    val outCols = a.columns.toSeq
    val (fp1, fp2) = fpNames(outCols)
    def withFp(df: DataFrame): DataFrame = {
      val cs: Seq[Column] = df.columns.toSeq.map(col)
      df.withColumn(fp1, xxhash64(cs: _*)).withColumn(fp2, hash(cs: _*))
    }
    val af = withFp(a)
    val bFps = withFp(b).select(fp1, fp2).distinct()
    val pass = af.join(bFps, Seq(fp1, fp2), "left_anti")
      .select(outCols.map(col): _*)
    val hot = af.join(bFps, Seq(fp1, fp2), "left_semi")
      .select(outCols.map(col): _*)
    pass.unionByName(hot.exceptAll(b))
  }

  /** The fingerprint pre-pass proper; callers guarantee map-free inputs.
    *
    * The changed-fingerprint set is CACHED (both survivor semi-joins
    * probe it — without the cache the fingerprint aggregations and
    * their full-span scans re-execute once per side). The survivors
    * then flow through ONE ±1-tagged aggregation: `after` rows count
    * +1, `before` rows −1, group by every column, keep non-zero sums —
    * per distinct row exactly `count(after) − count(before)`, the
    * signed multiset delta both exceptAll legs encode (Spark's own
    * RewriteExceptAll is this same union-aggregate-replicate shape, but
    * an exceptAll per leg runs the aggregation TWICE over both sides —
    * measured as the two full-row Exchanges in
    * plans/r15/changelog_net_before.txt). All cached frames are
    * changed-row volume (the whole point of the pre-pass), so the
    * memory is bounded by the diff size, never the span; Verify/Bench
    * clear per-query caches centrally (the repo's internal-cache
    * convention) and [[releaseCaches]] releases between queries in
    * long-lived sessions.
    */
  private def nettedHashable(
      before: DataFrame, after: DataFrame): DataFrame = {
    val outCols = before.columns.toSeq
    val (fp1, fp2) = fpNames(outCols)
    def withFp(df: DataFrame): DataFrame = {
      val cs: Seq[Column] = df.columns.toSeq.map(col)
      df.withColumn(fp1, xxhash64(cs: _*)).withColumn(fp2, hash(cs: _*))
    }
    val bf = withFp(before)
    val af = withFp(after)
    def counts(df: DataFrame, as: String): DataFrame =
      df.groupBy(fp1, fp2).agg(count(lit(1)).as(as))
    val changed = reg(counts(af, "ca")
      .join(counts(bf, "cb"), Seq(fp1, fp2), "full_outer")
      .filter(coalesce(col("ca"), lit(0L)) =!= coalesce(col("cb"), lit(0L)))
      .select(fp1, fp2)
      .cache())
    def survivors(df: DataFrame): DataFrame =
      df.join(changed, Seq(fp1, fp2), "left_semi")
        .select(outCols.map(col): _*)
    signedNet(survivors(bf), survivors(af))
  }

  /** The ±1 netting aggregation itself: `after` rows count +1, `before`
    * rows −1, group by every column, keep non-zero sums. Map-free inputs.
    */
  private def signedNet(before: DataFrame, after: DataFrame,
                        clusterBy: Seq[String] = Nil): DataFrame = {
    val outCols = before.columns.toSeq.map(col)
    def tagged(df: DataFrame, tag: Long): DataFrame =
      df.select(outCols :+ lit(tag).as(NetCol): _*)
    val both = tagged(after, 1L).unionByName(tagged(before, -1L))
    (if (clusterBy.isEmpty) both else both.repartition(clusterBy.map(col): _*))
      .groupBy(outCols: _*)
      .agg(sum(NetCol).as(NetCol))
      .filter(col(NetCol) =!= 0L)
  }
}
