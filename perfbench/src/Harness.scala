package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The benchmark JVM. `run.py` starts one per run, for one workload:
  *
  *   1. setup: session, extensions, base-table resolution;
  *   2. cold pass: the first pass over the workload's queries;
  *   3. pin pass, untimed: a result fingerprint per query;
  *   4. warm passes, each query timed alone, until the warm passes
  *      have taken `--seconds` and there are at least three of them
  *      (the first still runs slower while the JIT catches up).
  *
  * Every pass runs the queries in an order drawn from `--seed`. A query
  * run is `SparkEntry.queries(name)(spark, dir)` (build) followed by a
  * noop write (execute), then `clearCache()`, as in `graft.Bench`.
  * With `--trace 1` the listeners are attached for the cold pass and
  * for two of five warm passes; the untraced ones between them give the
  * tracing overhead. The result is one JSON file at `--out`.
  */
object Harness {
  val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  type Query = (SparkSession, String) => DataFrame

  final case class Run(query: String, buildMs: Double, execMs: Double, error: String) {
    def ms: Double = buildMs + execMs
  }

  final case class Pass(span: Int, traced: Boolean, runs: Seq[Run], globals: Globals,
      leakedRdds: Long, stagingBytes: Long) {
    def seconds: Double = runs.map(_.ms).sum / 1000
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val dir = opt("data")
    val cores = opt("cores").toInt
    val trace = opt.get("trace").contains("1")
    val out = mutable.LinkedHashMap.empty[String, Any]

    val clock = new Clock
    val setupStart = clock.nowMs
    val spark = graft.Sessions.builder(s"local[$cores]", cores).getOrCreate()
    Tables.foreach(t => spark.read.parquet(s"$dir/$t.parquet"))
    val setupEnd = clock.nowMs
    out("setup_s") = (setupEnd - setupStart) / 1000
    out("load_avg") = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val seed = opt("seed").toLong
    val names = opt("queries").split(",").toSeq
    val registry = graft.SparkEntry.queries
    val queries: Seq[(String, Query)] = names.map { n =>
      val full = registry.keys.filter(k => k == n || k.startsWith(n + "_")).toSeq
      require(full.length == 1, s"query $n matches ${full.sorted.mkString(", ")}")
      full.head -> registry(full.head)
    }
    val sc = spark.sparkContext
    val tracer = new Tracer(spark, clock)
    val root = tracer.open(s"workload ${opt("workload")} seed $seed", "workload", -1)
    val setupSpan = tracer.record("setup", "setup", root, setupStart, setupEnd)

    var passNo = 0
    def order(): Seq[(String, Query)] = {
      passNo += 1
      new scala.util.Random(seed * 1000003L + passNo).shuffle(queries)
    }

    def runPass(kind: String, traced: Boolean): Pass = {
      if (traced) tracer.attach()
      val passSpan = tracer.open(s"$kind pass $passNo", "pass", root)
      var globals = Globals()
      var leaked = 0L
      val runs = order().map { case (name, fn) =>
        val before = if (traced) tracer.globals else null
        val rddsBefore = if (traced) sc.getPersistentRDDs.keySet else Set.empty[Int]
        val qSpan = tracer.open(name, "query", passSpan)
        def call[T](layer: String)(body: => T): T = {
          val s = tracer.open(layer, layer, qSpan)
          if (traced) sc.setLocalProperty(tracer.SpanProp, s.toString)
          sc.setJobDescription(null)
          try body finally {
            sc.setLocalProperty(tracer.SpanProp, null)
            tracer.close(s)
          }
        }
        val t0 = clock.nowMs
        var t1 = Double.NaN
        val err = try {
          val df = call("build")(fn(spark, dir))
          t1 = clock.nowMs
          call("exec")(df.write.format("noop").mode("overwrite").save())
          null
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] $name failed: $e")
          describe(e)
        }
        val t2 = clock.nowMs
        tracer.close(qSpan)
        spark.catalog.clearCache()
        if (traced) {
          globals = globals + (tracer.globals - before)
          leaked += (sc.getPersistentRDDs.keySet -- rddsBefore).size
        }
        val build = if (t1.isNaN) t2 - t0 else t1 - t0
        Run(name, build, if (t1.isNaN) 0.0 else t2 - t1, err)
      }
      tracer.close(passSpan)
      if (traced) tracer.detach()
      Pass(passSpan, traced, runs, globals, leaked, if (traced) stagingBytes() else 0L)
    }

    val cold = runPass("cold", trace)

    val pinStart = clock.nowMs
    val pins = order().map { case (name, fn) =>
      val pin = try fingerprint(fn(spark, dir)) catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed in the pin pass: $e")
        Map("error" -> describe(e))
      }
      spark.catalog.clearCache()
      name -> pin
    }.toMap
    out("pin_pass_s") = (clock.nowMs - pinStart) / 1000

    val seconds = opt("seconds").toDouble
    val warm = mutable.ArrayBuffer.empty[Pass]
    // Traced runs: the first warm pass, still slow while the JIT catches
    // up, runs untraced; then traced (T) and untraced (U) passes as TUUT
    // or UTTU by the seed, so a trend across passes cancels between them.
    val t = seed % 2 == 0
    val tracedPlan = if (trace) Seq(false, t, !t, !t, t) else Nil
    while (warm.length < math.max(3, tracedPlan.length) || warm.map(_.seconds).sum < seconds)
      warm += runPass("warm", tracedPlan.lift(warm.length).getOrElse(false))

    out("cold_pass_s") = cold.seconds
    out("warm_passes_s") = warm.map(_.seconds).toSeq
    out("runs") = (cold +: warm.toSeq).flatMap(_.runs).map { r =>
      Map("query" -> r.query, "build_ms" -> r.buildMs, "exec_ms" -> r.execMs,
        "error" -> r.error)
    }
    out("warm_query_ms") = queries.map(_._1).map { q =>
      q -> warm.toSeq.flatMap(_.runs).filter(_.query == q).map(_.ms)
    }.toMap
    out("pins") = pins
    out("cold_failed") = cold.runs.count(_.error != null)
    out("warm_failed") = warm.map(_.runs.count(_.error != null)).sum

    if (trace) {
      val flop = flopControl(spark)
      tracer.close(root)
      out("layers") = layers(tracer, cores, cold, warm.toSeq, setupSpan) ++ Map(
        "box.flop_control_s" -> flop,
        "box.load_avg" -> out("load_avg").asInstanceOf[Double])
      out("spans") = tracer.spans.toSeq.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs)
      }
    } else out("layers") = Map.empty[String, Double]
    out("vm_hwm_mb") = vmHwmMb()
    spark.stop()
    write(opt("out"), out)
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"

  /** Per-layer figures: the mean over the traced warm passes, the cold
    * pass's planning and codegen, and the overhead of tracing as the
    * traced passes' mean time against that of the untraced passes
    * between them (warm passes 2 to 5).
    */
  private def layers(t: Tracer, cores: Int, cold: Pass, warm: Seq[Pass],
      setup: Span): Map[String, Double] = {
    val traced = warm.filter(_.traced)
    val n = traced.length.toDouble
    val spans = traced.flatMap(p => t.descendants(p.span))
    def under(layer: String) = spans.filter(_.layer == layer)
    def sumOf(layer: String)(f: SpanCounters => Double): Double =
      under(layer).map(s => t.counters.get(s.id).map(f).getOrElse(0.0)).sum / n
    def both(f: SpanCounters => Double) = sumOf("build")(f) + sumOf("exec")(f)
    def dur(layer: String) = under(layer).map(s => s.endMs - s.startMs).sum / 1000 / n
    def self(layer: String) =
      (if (layer == "pass") traced.map(p => t.spans(p.span)) else under(layer))
        .map(t.selfMs).sum / 1000 / n
    val g = traced.map(_.globals).foldLeft(Globals())(_ + _)
    val wallS = traced.map(_.seconds).sum / n
    val runS = both(_.runMs) / 1000
    val cpuS = both(_.cpuNs) / 1e9
    val mb = 1024.0 * 1024.0
    Map(
      "session.start_s" -> (setup.endMs - setup.startMs) / 1000,
      "build.s" -> dur("build"),
      "build.jobs" -> sumOf("build")(_.jobs),
      "build.task_s" -> sumOf("build")(_.runMs) / 1000,
      "plan.s" -> g.planMs / 1000 / n,
      "plan.count" -> g.plans / n,
      "codegen.compiles" -> g.compiles / n,
      "cold.plan_s" -> cold.globals.planMs / 1000,
      "cold.codegen_compiles" -> cold.globals.compiles.toDouble,
      "exec.s" -> dur("exec"),
      "exec.jobs" -> sumOf("exec")(_.jobs),
      "sched.stages" -> both(_.stages),
      "sched.tasks" -> both(_.tasks),
      "sched.core_util" -> runS / (wallS * cores),
      "task.run_s" -> runS,
      "task.cpu_s" -> cpuS,
      "task.gc_s" -> both(_.gcMs) / 1000,
      "task.wait_frac" -> (if (runS > 0) 1 - cpuS / runS else 0.0),
      "task.skew_max" -> spans.flatMap(s => t.counters.get(s.id)).map(_.skewMax)
        .foldLeft(0.0)(math.max),
      "shuffle.write_mb" -> both(_.shuffleWrite) / mb,
      "shuffle.read_mb" -> both(_.shuffleRead) / mb,
      "spill.mb" -> both(_.spill) / mb,
      "scan.input_mb" -> both(_.input) / mb,
      "persist.leaked_rdds" -> traced.map(_.leakedRdds).sum / n,
      "pipeline.stage_jobs" -> sumOf("build")(_.stageJobs),
      "pipeline.stage_s" -> sumOf("build")(_.stageJobMs) / 1000,
      "tap.stage_dir_mb" -> traced.map(_.stagingBytes).sum / n / mb,
      "stream.batches" -> g.batches / n,
      "stream.add_batch_s" -> g.addBatchMs / 1000 / n,
      "stream.wal_commit_s" -> g.walCommitMs / 1000 / n,
      "stream.commit_offsets_s" -> g.commitOffsetsMs / 1000 / n,
      "stream.planning_s" -> g.streamPlanningMs / 1000 / n,
      "self.pass_s" -> self("pass"),
      "self.query_s" -> self("query"),
      "self.build_s" -> self("build"),
      "self.exec_s" -> self("exec"),
      "self.job_s" -> self("job"),
      "trace.overhead_frac" -> {
        val (on, off) = warm.slice(1, 5).partition(_.traced)
        on.map(_.seconds).sum / off.map(_.seconds).sum - 1
      })
  }

  /** Bytes under the JVM's temp dir (pipeline and tap staging) and
    * under q75's staging root, which is fixed in the program.
    */
  private def stagingBytes(): Long =
    Seq(System.getProperty("java.io.tmpdir"), Q75Root).map { d =>
      val root = java.nio.file.Paths.get(d)
      if (!java.nio.file.Files.exists(root)) 0L
      else {
        val walk = java.nio.file.Files.walk(root)
        try walk.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(p => try java.nio.file.Files.size(p) catch { case _: Exception => 0L })
          .sum()
        finally walk.close()
      }
    }.sum

  val Q75Root = "/tmp/graft_q75"

  /** Schema, row count and an order-independent hash of the rows, with
    * floating-point values rounded to 9 significant digits and map
    * entries sorted, so the pin does not depend on partitioning.
    */
  def fingerprint(df: DataFrame): Map[String, Any] = {
    val schema = df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
      .mkString(",")
    val h = xxhash64(df.schema.fields.map(f => norm(col(s"`${f.name}`"), f.dataType)).toSeq: _*)
    val row = df.select(h.as("h")).agg(
      count(lit(1)),
      coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L)),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)),
      coalesce(bit_xor(col("h")), lit(0L))).head()
    Map("schema" -> schema, "rows" -> row.getLong(0),
      "hash" -> f"${row.getLong(1)}%x-${row.getLong(2)}%x-${row.getLong(3)}%x")
  }

  private def norm(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType)
      format_string("%.9g", when(d === 0.0, lit(0.0)).otherwise(d))
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case st: StructType if st.nonEmpty =>
      when(c.isNull, lit(null)).otherwise(
        struct(st.fields.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(norm(e.getField("key"), kt).as("k"), norm(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  /** Seconds of a fixed, data-independent kernel run, the same one
    * `graft.Bench` reports as `flop_control`: brute-force cosine top-10
    * over 4000 generated 64-dim vectors. A box that is throttled or
    * shared shows up here, not in the workload.
    */
  private def flopControl(spark: SparkSession): Double = {
    import spark.implicits._
    val vecs = (0 until 4000).map { i =>
      var s = i.toLong
      val a = Array.fill(64) {
        s = s * 6364136223846793005L + 1442695040888963407L
        ((s >>> 33) % 2000L - 1000L).toFloat / 1000f
      }
      (i.toLong, a)
    }
    val corpus = spark.createDataset(vecs).toDF("vec_id", "embedding")
      .repartition(spark.sparkContext.defaultParallelism)
    def once(): Double = {
      val t0 = System.nanoTime()
      graft.similarity.Similarity.bruteForceTopK(
          corpus = corpus, queries = corpus.filter(col("vec_id") % 8 === 0),
          idCol = "vec_id", vecCol = "embedding", k = 10)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    once()
  }

  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  private def write(path: String, m: collection.Map[String, Any]): Unit = {
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      mapper.writeValueAsBytes(m))
  }
}
