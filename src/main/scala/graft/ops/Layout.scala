package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.LayoutFunctions

/** Multi-dimensional data-layout clustering (write optimization).
  *
  * Scale rationale: on a 100 TB table, a query like
  * `WHERE user BETWEEN ... AND day BETWEEN ...` is served by file/row-
  * group skipping, and skipping quality is decided when the table is
  * WRITTEN. Sorting by (user, day) prunes on user only — every file
  * spans the full day range. Clustering by the Morton z-value of both
  * columns tiles the space so each file covers a narrow range of EVERY
  * clustered dimension; min/max stats then prune on whichever predicate
  * the query brings (LayoutSpec pins the locality property
  * quantitatively, and against the lexicographic baseline).
  */
object Layout {

  /** Cluster `df` into `numPartitions` write tasks by the z-order of
    * `dims` (2 or 3 numeric columns; project dates/timestamps through
    * `unix_date`/`unix_micros` first).
    *
    * Each dimension is normalized to its global [min, max] range scaled
    * to the interleave width (31 bits for 2 dims, 21 for 3) — rank-free
    * linear normalization, which tiles well unless a dimension is
    * pathologically skewed (pre-bucket such a column by rank first).
    * The bounds aggregate is one tiny job collecting 2×dims scalars to
    * the driver (catalog-sized, like the corpus-count broadcasts); the
    * data path itself is a projection + one range exchange + per-
    * partition sort — no extra shuffle, nothing row-sized collected.
    *
    * Nulls in any dimension z-map to null and are routed to the FIRST
    * range partition (Spark range-partitions nulls first), keeping them
    * out of every data tile's min/max.
    */
  def clusterByZOrder(df: DataFrame, dims: Seq[String],
                      numPartitions: Int): DataFrame = {
    require(dims.size == 2 || dims.size == 3,
      s"clusterByZOrder takes 2 or 3 dimensions, got ${dims.size}")
    // 31 bits per dim for 2-D (not 32): repartitionByRange orders the z
    // column as a SIGNED long, so a 64-bit Morton value whose top bit is
    // dim-1's leading normalized bit would sort the upper half of the
    // curve BEFORE the lower half — curve contiguity breaks at the
    // midpoint and the straddling file spans nearly the full leading
    // dimension. 31+31 = 62-bit z stays non-negative (as 3x21 = 63 does
    // for 3-D), at the cost of one bit of resolution nothing needs.
    val bits = if (dims.size == 2) 31 else 21
    val scaleMax = (1L << bits) - 1
    val boundAggs = dims.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"__mn_$c"),
      max(col(c).cast("double")).as(s"__mx_$c")))
    val bounds = df.agg(boundAggs.head, boundAggs.tail: _*).collect().head
    val normalized: Seq[Column] = dims.map { c =>
      val mn = bounds.getAs[Double](s"__mn_$c")
      val mx = bounds.getAs[Double](s"__mx_$c")
      val range = if (mx > mn) mx - mn else 1.0
      // explicit null gate: least/greatest IGNORE nulls (the
      // winsorizedMeans lesson), so without it a null dimension value
      // silently normalized to 0 — indistinguishable from the global
      // minimum, polluting data tiles' min/max instead of riding the
      // nulls-first range partition the scaladoc promises
      when(col(c).isNull, lit(null).cast("long"))
        .otherwise(least(lit(scaleMax), greatest(lit(0L),
          ((col(c).cast("double") - lit(mn)) / lit(range) * lit(scaleMax.toDouble))
            .cast("long"))))
    }
    val Z = "__graft_z"
    df.withColumn(Z, LayoutFunctions.zorder(normalized: _*))
      .repartitionByRange(numPartitions, col(Z))
      .sortWithinPartitions(Z)
      .drop(Z)
  }

  /** Cluster and write in one step: each output file is a Morton tile,
    * so parquet footer min/max stats prune multi-dimensional predicates
    * at read time (LayoutSpec proves the per-FILE spreads on the
    * written files, not just the in-memory partitions). One range
    * exchange, then a straight parquet write — the drop of the
    * temporary z column is a projection, which preserves the
    * within-partition order into the files.
    */
  def writeClustered(df: DataFrame, dims: Seq[String], path: String,
                     numPartitions: Int): Unit =
    clusterByZOrder(df, dims, numPartitions)
      .write.mode("overwrite").parquet(path)
}
