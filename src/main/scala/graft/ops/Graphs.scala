package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph construction helpers shared by the graph-operator family —
  * the step every co-occurrence analysis (triangles, k-core, PMI
  * ranking) starts from and that is easy to write as a quadratic
  * self-join by accident.
  */
object Graphs {

  /** Degree assortativity (Newman 2002) as an EXACT integer moment
    * pair — "do hubs link to hubs?" (positive: social/co-occurrence
    * structure; negative: hub-and-spoke/star structure — a crawl
    * whose link graph flips sign changed its nature). Pearson
    * correlation of (deg(u), deg(v)) over the DIRECTED edge list of
    * the undirected graph (both orientations — the standard
    * convention, making x and y exchangeable):
    *
    *   r = (n·Σxy − Σx·Σy) / sqrt((n·Σx² − (Σx)²)·(n·Σy² − (Σy)²))
    *
    * emitted as the exact pair (num, den²-factors) rather than a
    * float: num = n·Σxy − Σx·Σy, den_x = n·Σx² − (Σx)², den_y
    * symmetric; r = num / sqrt(den_x·den_y), division left to the
    * consumer's float space (the cohenKappa discipline — num is
    * signed, and signed division is where engines diverge). By
    * exchangeability den_x = den_y here; both are still emitted (the
    * identity doubles as a self-check downstream).
    *
    * Scale shape: one degree groupBy, two broadcast-gated-by-AQE
    * joins attaching deg(u)/deg(v) to the edge stream, one 1-row
    * map-side-combined moment aggregation — moments in DECIMAL(38,0)
    * (Σxy over E edges of deg ≤ 10⁶ passes 2^63 long before a long
    * overflows the squares).
    *
    * @return one row: (n_edges, num, den_x, den_y)
    */
  def degreeAssortativity(
      edges: DataFrame,
      srcCol: Column,
      dstCol: Column): DataFrame = {
    val e0 = edges.select(srcCol.cast("long").as("u"),
        dstCol.cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull &&
        col("u") =!= col("v"))
    val sym = e0.union(e0.select(col("v").as("u"), col("u").as("v")))
      .distinct()
    val deg = sym.groupBy("u").agg(count(lit(1)).as("d"))
    val withDeg = sym
      .join(deg.select(col("u"), col("d").as("x")), Seq("u"))
      .join(deg.select(col("u").as("v"), col("d").as("y")), Seq("v"))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    withDeg
      .agg(count(lit(1)).as("n"),
        sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("x")) * dec(col("y"))).as("sxy"),
        sum(dec(col("x")) * dec(col("x"))).as("sxx"),
        sum(dec(col("y")) * dec(col("y"))).as("syy"))
      .select(col("n").as("n_edges"),
        (dec(col("n")) * col("sxy") - col("sx") * col("sy")).as("num"),
        (dec(col("n")) * col("sxx") - col("sx") * col("sx")).as("den_x"),
        (dec(col("n")) * col("syy") - col("sy") * col("sy")).as("den_y"))
  }

  /** Weighted co-occurrence edges from a (group, item) membership
    * table: an undirected edge (a, b, w) per unordered item pair that
    * shares ≥ `minWeight` groups (a < b canonically; items compare in
    * their own type's ordering, cast upstream if that is not meant).
    *
    * Shape: ONE exchange — items are grouped per group and the ≤
    * cap·(cap−1)/2 pairs are emitted MAP-SIDE from the bounded array,
    * then one map-side-combined count. The tempting alternative, a
    * self-join on the group key, shuffles the membership table twice
    * and was measured dominating the whole triangle query before q146
    * switched to this form (NOTES r16tri). `maxItemsPerGroup` bounds
    * the per-group emission (a group of g items yields O(g²) pairs —
    * a 10⁵-item group is a 10¹⁰-pair bomb). Two over-cap policies:
    * with `failOnOverCap = false` (default), items past the cap are
    * DROPPED with the capped-collect's deterministic keep rule — the
    * same loud-by-scaladoc trade as [[graft.plans.CollectListCapped]];
    * with `failOnOverCap = true`, any group holding more than the cap
    * raises at runtime (the right setting when the consumer's
    * contract is exactness over every pair, e.g. a query verified
    * against an uncapped oracle — q171). Size the cap to the real
    * "co-occurrence is meaningful" group width, not the biggest group.
    *
    * @return (a, b, w) with a < b, w = co-occurrence count ≥ minWeight
    */
  def coOccurrenceEdges(
      df: DataFrame,
      groupCol: Column,
      itemCol: Column,
      minWeight: Long = 1L,
      maxItemsPerGroup: Int = 200,
      failOnOverCap: Boolean = false,
      numPartitions: Int = Sizing.Auto,
      membershipsHint: Long = -1L): DataFrame = {
    require(minWeight >= 1, s"minWeight must be >= 1, got $minWeight")
    require(maxItemsPerGroup >= 2,
      s"maxItemsPerGroup must be >= 2, got $maxItemsPerGroup")
    require(numPartitions == Sizing.Auto || numPartitions >= 1,
      s"numPartitions must be >= 1 or Sizing.Auto, got $numPartitions")
    // In fail mode, collect ONE item past the cap: size > cap after
    // the distinct collect proves the group genuinely exceeds it (the
    // input stream to the collect is already (g, it)-distinct).
    val collectCap =
      if (failOnOverCap) maxItemsPerGroup + 1 else maxItemsPerGroup
    // The member-collect exchange holds OBJECT aggregation buffers
    // (per-group arrays), the memory-hungry kind (the minhashLsh
    // grouping lesson): with the session's 32 shuffle partitions its
    // per-task state grows linearly with corpus size — the graphco
    // x100 rung (60M memberships) ran 12g at the allocation-pressure
    // edge and died at 8g. Auto (round 16) sizes it from the
    // membership count — `membershipsHint` if given, else plan
    // statistics (NO Spark job, the minhashLsh contract), else the
    // session parallelism (the old default, right for
    // working-set-sized corpora whose plans carry no size). The task
    // budget is 32 MB of ESTIMATED state (~72 B/membership), a 4x
    // margin under the usual 128 MB: object buffers carry GC
    // amplification flat-byte shuffles don't — the x100 rung measured
    // 46.8 s / 12 g-edge with 32 partitions vs 34.0 s with 128 (arms
    // content-hash-equal; NOTES.md "q172 assortativity"), and this rule
    // lands in that band. `numPartitions` pins it explicitly (same
    // exchange COUNT either way — the groupBy's own shuffle is just
    // made explicit and parameterized).
    val parts =
      if (numPartitions == Sizing.Auto) {
        val par = df.sparkSession.sparkContext.defaultParallelism
        val pruned = df.select(groupCol.as("g"), itemCol.as("it"))
        val memberships =
          if (membershipsHint >= 0) membershipsHint
          // prefer parquet footer ROW counts (exact for the scan, a
          // driver metadata read, no job): the bytes arm below keeps
          // the SOURCE's width, so a narrow projection derived from
          // a wide json-blob column overshoots rows ~50x and the
          // partition count with it (q171, round 16)
          else Sizing.parquetRowsUpperBound(pruned)
            // else: PRUNED 2-column projection (Catalyst scales
            // sizeInBytes by default column widths, cancelling the
            // caller's extra columns) at 8 B/row — the compressed
            // floor of two dict/delta-encoded key columns (the
            // graphco x100 rung measures 8.5 B/row); the 256 B
            // default would under-count rows ~30x and land on the
            // parallelism floor
            .orElse(Sizing.planRowsEstimate(pruned,
              assumedBytesPerRow = 8L))
            .getOrElse(par.toLong)
        Sizing.groupingPartitions(memberships, 72L, par,
          targetBytesPerTask = 32L << 20)
      } else numPartitions
    val grouped = df.select(groupCol.as("g"), itemCol.as("it")).distinct()
      .repartition(parts, col("g"))
      .groupBy("g")
      .agg(array_distinct(call_function("collect_list_capped",
        col("it"), lit(collectCap))).as("ps"))
    val checked =
      if (failOnOverCap)
        grouped.withColumn("ps",
          when(size(col("ps")) > maxItemsPerGroup,
            raise_error(concat(
              lit("coOccurrenceEdges: group "), col("g").cast("string"),
              lit(s" exceeds maxItemsPerGroup=$maxItemsPerGroup; " +
                "raise the cap or pre-filter the group"))))
            .otherwise(col("ps")))
      else grouped
    checked
      .select(explode(expr(
        """flatten(transform(ps, x ->
             filter(transform(ps, y ->
               IF(x < y, struct(x AS a, y AS b), NULL)),
             z -> z IS NOT NULL)))""")).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("w"))
      .filter(col("w") >= minWeight)
  }
}
