package graft.joins

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Backward as-of join — for each left row, attach the right row with the
  * greatest right-time <= left-time within the same key group (ties
  * inclusive, matching DuckDB `ASOF JOIN` / pandas `merge_asof`
  * semantics). The reference has no as-of join, but it is THE canonical
  * market-data enrichment (trade -> latest quote); Spark lacks a built-in
  * for batch frames, so this composes one from a union + running
  * `last(ignoreNulls)` window.
  *
  * Shape: `union(right tagged 0, left tagged 1) -> window over key ordered
  * by (time, tag) -> filter left`. One hash exchange on the key — the same
  * cost as the sort-merge join Spark would plan for an equi-join, with no
  * row explosion and O(1) window state per row (running frame). At 100 TB
  * the skew story is the per-key window one (high-cardinality keys are
  * fine; with few keys `graft.plans.KeyedWindowRule` re-plans the running
  * window on a range exchange over (key, time, tag)).
  */
object AsOfJoin {

  /** @param left      rows to enrich; all its columns are preserved
    * @param right     lookup rows; (keys, rightTime) must be unique for a
    *                  deterministic result (the greatest-time tie would
    *                  otherwise be arbitrary)
    * @param keys      equi-join key columns (present on both sides)
    * @param leftTime  left ordering column
    * @param rightTime right ordering column; must be order-compatible with
    *                  `leftTime` (numeric micros recommended — required if
    *                  `toleranceUs` is set)
    * @param toleranceUs max allowed `leftTime - rightTime`; stale matches
    *                  are nulled out (left row kept, as-of LEFT join)
    */
  def backward(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTime: String, rightTime: String,
               toleranceUs: Option[Long] = None): DataFrame =
    asOf(left, right, keys, leftTime, rightTime, toleranceUs, forward = false)

  /** Forward as-of: the right row with the SMALLEST right-time >= left-time
    * (ties inclusive) — same one-exchange shape scanned in descending time
    * order. merge_asof(direction="forward") semantics.
    */
  def forward(left: DataFrame, right: DataFrame, keys: Seq[String],
              leftTime: String, rightTime: String,
              toleranceUs: Option[Long] = None): DataFrame =
    asOf(left, right, keys, leftTime, rightTime, toleranceUs, forward = true)

  private def asOf(left: DataFrame, right: DataFrame, keys: Seq[String],
                   leftTime: String, rightTime: String,
                   toleranceUs: Option[Long], forward: Boolean): DataFrame = {
    val payload = right.columns.filterNot(c => keys.contains(c) || c == rightTime).toSeq
    val leftCols = left.columns.filterNot(keys.contains).toSeq
    require(payload.intersect(left.columns).isEmpty,
      s"as-of payload ${payload.mkString(",")} clashes with left columns")

    val rightSchema = right.schema
    val leftSchema = left.schema
    def nullAs(c: String, from: org.apache.spark.sql.types.StructType): Column =
      lit(null).cast(from(c).dataType).as(c)

    // positional union: keys, __t, __tag, left cols (null on right rows),
    // payload (null on left rows), __rt (matched right time, for tolerance)
    val rightU = right.select(
      keys.map(col) ++
        Seq(col(rightTime).as("__t"), lit(0).as("__tag")) ++
        leftCols.map(nullAs(_, leftSchema)) ++
        payload.map(col) :+
        col(rightTime).as("__rt"): _*)
    val leftU = left.select(
      keys.map(col) ++
        Seq(col(leftTime).as("__t"), lit(1).as("__tag")) ++
        leftCols.map(col) ++
        payload.map(nullAs(_, rightSchema)) :+
        lit(null).cast(rightSchema(rightTime).dataType).as("__rt"): _*)

    // right rows sort before left rows at equal time (__tag 0 < 1), so an
    // exact-tie right row is visible to the left row's running frame.
    // Forward direction scans time descending — the running "last right row
    // seen" is then the smallest right-time >= the current left-time.
    val timeOrder = if (forward) col("__t").desc else col("__t").asc
    val w = Window.partitionBy(keys.map(col): _*).orderBy(timeOrder, col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = (payload :+ "__rt").foldLeft(rightU.unionByName(leftU)) {
      (df, c) => df.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }

    val matchedLeft = carried.filter(col("__tag") === 1)
    val tolerated = toleranceUs match {
      case None => matchedLeft
      case Some(tol) =>
        val age = if (forward) col("__rt") - col("__t") else col("__t") - col("__rt")
        val fresh = col("__rt").isNotNull && age <= tol
        payload.foldLeft(matchedLeft)((df, c) =>
          df.withColumn(c, when(fresh, col(c))))
    }
    tolerated.select((left.columns.toSeq ++ payload).map(col): _*)
  }

  /** Nearest as-of: for each left row, the right row whose time is
    * CLOSEST in absolute distance (either direction); an exact tie
    * prefers the backward (at-or-before) candidate, so the result is
    * deterministic whenever (keys, rightTime) is unique.
    * `merge_asof(direction="nearest")` semantics.
    *
    * Shape: the same single union as backward/forward, but BOTH running
    * candidates are carried over the one hash exchange — two in-partition
    * sorts (time asc / time desc), zero extra shuffles — and the winner
    * is a row-local comparison of the two candidate ages. Each
    * direction's candidate rides as ONE struct (matched time + payload),
    * so a genuinely-NULL right payload value can never mix fields across
    * right rows the way per-column `last(ignoreNulls)` carries could.
    *
    * @param toleranceUs max allowed |leftTime - rightTime|; candidates
    *        farther than this are ignored (left row kept, payload null)
    */
  def nearest(left: DataFrame, right: DataFrame, keys: Seq[String],
              leftTime: String, rightTime: String,
              toleranceUs: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val payload = right.columns.filterNot(c => keys.contains(c) || c == rightTime).toSeq
    val leftCols = left.columns.filterNot(keys.contains).toSeq
    require(payload.intersect(left.columns).isEmpty,
      s"as-of payload ${payload.mkString(",")} clashes with left columns")
    // mirror GlobalRank's reserved-column guard (ADVICE r9): an input
    // frame already carrying one of the internal carrier names would
    // otherwise fail with an opaque analysis error — or worse, resolve
    // ambiguously and miscompute silently
    locally {
      val reserved = Set("__t", "__tag", "__cand", "__b", "__f")
      val clash = (left.columns ++ right.columns).filter(reserved)
      require(clash.isEmpty,
        s"columns ${clash.mkString(",")} are reserved by AsOfJoin.nearest")
    }
    val rightSchema = right.schema
    val leftSchema = left.schema
    def nullAs(c: String, from: org.apache.spark.sql.types.StructType): Column =
      lit(null).cast(from(c).dataType).as(c)

    // one candidate struct per right row: matched time first, then payload
    val rightU = right.select(
      keys.map(col) ++
        Seq(col(rightTime).as("__t"), lit(0).as("__tag")) ++
        leftCols.map(nullAs(_, leftSchema)) :+
        struct(col(rightTime).as("__rt") +: payload.map(col): _*).as("__cand"): _*)
    val leftU = left.select(
      keys.map(col) ++
        Seq(col(leftTime).as("__t"), lit(1).as("__tag")) ++
        leftCols.map(col) :+
        lit(null).cast(rightU.schema("__cand").dataType).as("__cand"): _*)

    // right rows sort before left rows at equal __t in BOTH directions
    // (__tag 0 < 1), so an exact-tie right row is visible to each frame
    val wb = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__t").asc, col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__t").desc, col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = rightU.unionByName(leftU)
      .withColumn("__b", last(col("__cand"), ignoreNulls = true).over(wb))
      .withColumn("__f", last(col("__cand"), ignoreNulls = true).over(wf))
      .filter(col("__tag") === 1)

    val bAge = col("__t") - col("__b.__rt")
    val fAge = col("__f.__rt") - col("__t")
    def ok(rt: Column, age: Column): Column = toleranceUs match {
      case Some(tol) => rt.isNotNull && age <= tol
      case None => rt.isNotNull
    }
    val bOk = ok(col("__b.__rt"), bAge)
    val fOk = ok(col("__f.__rt"), fAge)
    val useB = bOk && (!fOk || bAge <= fAge)
    val picked = payload.foldLeft(carried) { (df, c) =>
      df.withColumn(c,
        when(useB, col(s"__b.$c")).when(fOk, col(s"__f.$c")))
    }
    picked.select((left.columns.toSeq ++ payload).map(col): _*)
  }
}
