package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SizingSpec extends SparkSpec {

  test("log2Ceil: exact at powers of two, ceil between") {
    assert(Sizing.log2Ceil(0) == 0)
    assert(Sizing.log2Ceil(1) == 0)
    assert(Sizing.log2Ceil(2) == 1)
    assert(Sizing.log2Ceil(3) == 2)
    assert(Sizing.log2Ceil(4) == 2)
    assert(Sizing.log2Ceil(5) == 3)
    assert(Sizing.log2Ceil(1L << 40) == 40)
    assert(Sizing.log2Ceil((1L << 40) + 1) == 41)
  }

  test("lshBits: tracks corpus size, clamped to [8, 24], and clears " +
      "the measured round-7 knee point without hand-tuning") {
    // the knee: 6 bits (64 buckets/table) went exponent ~1.5 by 20k
    // vectors — the auto default at that cardinality must beat it
    assert(Sizing.lshBits(20000) >= 10)
    // 2^bits >= n/targetBucketSize: expected random bucket population
    // stays <= target at every size
    for (n <- Seq(100L, 10000L, 1000000L, 100000000L)) {
      val b = Sizing.lshBits(n)
      assert((1L << b) >= n / 16 || b == 24)
    }
    assert(Sizing.lshBits(1) == 8) // floor
    assert(Sizing.lshBits(Long.MaxValue / 2) == 24) // cap
    // monotone non-decreasing in n
    val pts = Seq(1L, 1000L, 100000L, 10000000L).map(Sizing.lshBits(_))
    assert(pts == pts.sorted)
  }

  test("lshTables: recall math — more tables for wider signatures, " +
      "and the (bits, tables) pair actually reaches the target recall") {
    val t12 = Sizing.lshTables(12, 0.9)
    val t16 = Sizing.lshTables(16, 0.9)
    assert(t12 >= 2 && t16 >= t12, s"t12=$t12 t16=$t16") // recall paid back
    // verify the closed form: miss = (1 - p^bits)^tables <= 0.1
    val p = 1.0 - math.acos(0.9) / math.Pi
    assert(math.pow(1.0 - math.pow(p, 12), t12.toDouble) <= 0.1 + 1e-12)
    // clamps
    assert(Sizing.lshTables(64, 0.1) == 64)
    assert(Sizing.lshTables(1, 0.99) == 2)
    // endpoint thresholds are legal degenerate cases, not crashes:
    // threshold 1 (exact duplicates) needs the minimum 2 tables;
    // threshold -1 (keep everything) saturates at the 64-table cap;
    // out-of-range inputs clamp to the nearest endpoint
    assert(Sizing.lshTables(12, 1.0) == 2)
    assert(Sizing.lshTables(12, -1.0) == 64)
    assert(Sizing.lshTables(12, 1.5) == Sizing.lshTables(12, 1.0))
    assert(Sizing.lshTables(12, -1.5) == Sizing.lshTables(12, -1.0))
  }

  test("semDedupNlist: constant cell population, clamped") {
    // the round-7 SemDeDup ladder point: 20k vectors / 250-vector
    // cells = 80 — the measured 21.0 -> 3.46 s lever value, now the default
    assert(Sizing.semDedupNlist(20000) == 80)
    assert(Sizing.semDedupNlist(2000) == 8)   // floor keeps routing real
    assert(Sizing.semDedupNlist(100) == 8)
    assert(Sizing.semDedupNlist(1L << 40) == (1 << 20)) // driver-stat cap
    // ceil division: never undersized
    assert(Sizing.semDedupNlist(251) * 250 >= 251 - 250)
    assert(Sizing.semDedupNlist(50000) == 200)
  }

  test("simhashBands: fewest pigeonhole-sufficient bands (widest " +
      "segments, furthest random-collision ceiling)") {
    assert(Sizing.simhashBands(0) == 1)
    assert(Sizing.simhashBands(1) == 2)
    assert(Sizing.simhashBands(3) == 4)  // the classic 64/4 = 16-bit bands
    assert(Sizing.simhashBands(4) == 8)
    assert(Sizing.simhashBands(7) == 8)
    assert(Sizing.simhashBands(15) == 16)
    // always a divisor of 64 and always >= maxHamming + 1
    for (h <- 0 until 64) {
      val b = Sizing.simhashBands(h)
      assert(64 % b == 0 && b >= h + 1)
    }
  }

  test("ivfNlist: ~4*sqrt(n), floored at the old default, capped at " +
      "the driver-statistic bound") {
    assert(Sizing.ivfNlist(0) == 16)
    assert(Sizing.ivfNlist(16) == 16)    // 4*4 = floor
    assert(Sizing.ivfNlist(2500) == 200) // 4*50 exactly
    assert(Sizing.ivfNlist(60000) == 980) // ceil(4*sqrt(60000)) — the x30 rung
    assert(Sizing.ivfNlist(Long.MaxValue / 4) == (1 << 14)) // cap
    // monotone non-decreasing
    val pts = Seq(0L, 100L, 10000L, 1000000L, 100000000L)
      .map(Sizing.ivfNlist)
    assert(pts == pts.sorted)
    // the scale property: per-query candidate fraction nprobe/nlist
    // shrinks as ~1/sqrt(n) — at 100x corpus the fraction is ~10x lower
    val f1 = 4.0 / Sizing.ivfNlist(10000)
    val f100 = 4.0 / Sizing.ivfNlist(1000000)
    assert(f100 < f1 / 8 && f100 > f1 / 12, s"f1=$f1 f100=$f100")
  }

  test("auto-sized operators equal their explicitly-sized twins") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val emb = (1L to 300L).map { id =>
      (id, Array.fill(16)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")

    // nearDupPairs: Auto must resolve to (lshBits(n), lshTables(bits))
    val n = 300L
    val bits = Sizing.lshBits(n)
    val tables = Sizing.lshTables(bits, 0.8)
    val auto = graft.similarity.Similarity.nearDupPairs(
      emb, "vec_id", "embedding", dim = 16, threshold = 0.8)
    val explicit = graft.similarity.Similarity.nearDupPairs(
      emb, "vec_id", "embedding", dim = 16, threshold = 0.8,
      bits = bits, tables = tables)
    assert(auto.collect().toSet == explicit.collect().toSet)

    // semDedup: Auto must resolve to semDedupNlist(n)
    val sAuto = graft.similarity.Similarity.semDedup(
      emb, "vec_id", "embedding", threshold = 0.2)
    val sExpl = graft.similarity.Similarity.semDedup(
      emb, "vec_id", "embedding", threshold = 0.2,
      nlist = Sizing.semDedupNlist(n))
    assert(sAuto.collect().toSet == sExpl.collect().toSet)

    // ivfTopK: Auto must resolve to ivfNlist(n)
    val iAuto = graft.similarity.Similarity.ivfTopK(
      emb, emb.limit(20), "vec_id", "embedding", k = 5, nprobe = 2)
    val iExpl = graft.similarity.Similarity.ivfTopK(
      emb, emb.limit(20), "vec_id", "embedding", k = 5,
      nlist = Sizing.ivfNlist(n), nprobe = 2)
    assert(iAuto.collect().toSet == iExpl.collect().toSet)

    // lshTopK: Auto bits must resolve to lshBits(n) (tables stays an
    // explicit recall lever — retrieval has no threshold to target)
    val lAuto = graft.similarity.Similarity.lshTopK(
      emb, emb.limit(20), "vec_id", "embedding", k = 5, dim = 16,
      tables = 3)
    val lExpl = graft.similarity.Similarity.lshTopK(
      emb, emb.limit(20), "vec_id", "embedding", k = 5, dim = 16,
      bits = Sizing.lshBits(n), tables = 3)
    assert(lAuto.collect().toSet == lExpl.collect().toSet)

    // simhashPairs: Auto bands must resolve to simhashBands(maxHamming)
    val docs = (1L to 200L).map { id =>
      (id, (0 until 30).map(j => s"w${(id / 20) * 31 + j}").mkString(" "))
    }.toDF("doc_id", "text")
    val dAuto = graft.dedup.Dedup.simhashPairs(
      docs, col("doc_id"), col("text"), maxHamming = 3)
    val dExpl = graft.dedup.Dedup.simhashPairs(
      docs, col("doc_id"), col("text"), maxHamming = 3, bands = 4)
    assert(dAuto.collect().toSet == dExpl.collect().toSet)
  }

  test("parquetRowsUpperBound: exact file rows through projections/" +
      "filters, immune to the wide-blob trap that overshoots the " +
      "bytes arm; None on expanding or non-parquet plans") {
    import spark.implicits._
    val ev = spark.read.parquet(sf("sf0.001") + "/events.parquet")
    val exact = ev.count()
    assert(Sizing.parquetRowsUpperBound(ev).contains(exact))
    // the q171 shape: narrow projection DERIVED from the wide props
    // blob — footer bound stays exact while the 8 B/row bytes arm
    // overshoots (it keeps the blob's bytes)
    val pruned = ev.select(col("user_id").as("g"),
      get_json_object(col("props"), "$.k").as("it"))
    assert(Sizing.parquetRowsUpperBound(pruned).contains(exact))
    val bytesArm = Sizing.planRowsEstimate(pruned, assumedBytesPerRow = 8L)
    assert(bytesArm.exists(_ > exact),
      s"expected the bytes arm to overshoot (got $bytesArm vs $exact) — " +
        "if this stopped overshooting, the footer arm may be redundant")
    // filters above the scan: still the file bound (upper, not exact)
    assert(Sizing.parquetRowsUpperBound(
      ev.filter(col("value") > 1e18)).contains(exact))
    // expanding nodes and non-parquet leaves refuse loudly-by-None
    assert(Sizing.parquetRowsUpperBound(
      ev.select(explode(split(col("event_type"), "")).as("c"))).isEmpty)
    assert(Sizing.parquetRowsUpperBound(
      ev.as("a").join(ev.as("b"), Seq("event_id"))).isEmpty)
    assert(Sizing.parquetRowsUpperBound(
      Seq((1L, "x")).toDF("id", "s")).isEmpty)
    // a union of two parquet scans sums the bounds
    assert(Sizing.parquetRowsUpperBound(ev.union(ev))
      .contains(exact * 2))
  }

  test("charsEstimate: magnitude-right upper bound from plan stats, " +
      "no job") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df.schema
    val group = "graft-chars-estimate-probe"
    spark.sparkContext.setJobGroup(group, "charsEstimate job probe")
    val est =
      try {
        val e = Sizing.charsEstimate(df)
        assert(spark.sparkContext.statusTracker
          .getJobIdsForGroup(group).isEmpty,
          "charsEstimate ran a Spark job")
        e
      } finally spark.sparkContext.clearJobGroup()
    assert(est.isDefined, "parquet scan must carry a usable size")
    val actual = df.agg(
      org.apache.spark.sql.functions.sum(length(col("text"))))
      .head.getLong(0)
    // sizing contract: at or above the true char count (the safe,
    // over-partitioning direction for this text-dominated table) and
    // within two orders of magnitude (it feeds a power-of-two width)
    assert(est.get >= actual,
      s"estimate ${est.get} below actual $actual — under-partitions")
    assert(est.get <= 100L * actual,
      s"estimate ${est.get} absurdly above actual $actual")
  }
}
