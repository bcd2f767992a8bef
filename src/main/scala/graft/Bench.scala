package graft

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Json

/** Benchmark main, and the only timer of declared queries. Emission
  * contract (VERDICT r6 #2): the full per-query JSON grew past the
  * driver's 2000-char stdout capture, so the LAST stdout line is now a
  * compact summary —
  * `{"metric":"total","value":N,"unit":"sec","sf":...,"n":...,"error_count":N,"detail":...}`
  * — and the per-query medians/spreads/errors go to a detail file
  * (`SPARK_GRAFT_DETAIL_OUT`, default `BENCH_DETAIL.json` beside the
  * repo) plus one full-format line printed BEFORE the summary for any
  * consumer that reads whole stdout. `queries` holds the per-query
  * MEDIAN of 3 isolated runs and `spread` the [min,max] (VERDICT r2 #10).
  * Every run is one [[Bench.sample]]; the detail also carries the
  * per-query medians of its phase seconds and job counts.
  *
  * Two fixes over round 1 (VERDICT findings 1–2):
  *   - every query is forced to FULL evaluation — `xxhash64` over a struct of
  *     every output column, reduced to one `sum` — so Catalyst cannot prune
  *     the operators under test the way a bare `count()` lets it (windows,
  *     JSON extraction and projections were dead code under `count`);
  *   - per-query failures are reported in an `"errors"` object instead of
  *     being swallowed and emitted as a fast timing.
  *
  * A full warm-up pass runs first so the measured pass is not dominated by
  * JIT/codegen-cache/parquet-footer first-touch costs.
  *
  * Drift attribution (VERDICT r9 #3): a ~20-query canary set reruns in
  * fixed order at the start and end of the measured pass; its end/start
  * ratio is published as `"drift"` in the summary and `"canary"` (with
  * per-query times) in the detail, separating environment drift from
  * per-query change. `"floor_total"` (sum of per-query minima) is the
  * least-noise engine-cost estimate beside the median-sum `"value"`.
  *
  * Floor attribution (VERDICT r10 #6): any query whose per-run floor
  * moved >1.5× versus the PREVIOUS round's detail file
  * (`SPARK_GRAFT_PREV_DETAIL`, default the detail path itself, read
  * before overwrite) is re-measured ISOLATED at the end of the run and
  * published as `"isolated"` beside `"floor_moved"` — neighbor cache
  * pressure becomes a number instead of an assertion.
  *
  * Paired A/B: `SPARK_GRAFT_BENCH_AB="key=v1|v2"` measures every query on
  * two child sessions of the bench session, arm A with `key=v1` and arm B
  * with `key=v2`, back to back in every lap, so ambient drift and
  * neighbor cache pressure hit both arms alike. Results are labelled
  * `<query>#A` and `<query>#B`; the detail's `"ab"` holds the setting.
  */
object Bench {

  /** One measurement of one query: the seconds of each phase, and the
    * Spark jobs launched while building and while planning and running. */
  final case class Sample(buildS: Double, planS: Double, execS: Double,
                          buildJobs: Int, execJobs: Int) {
    def seconds: Double = buildS + planS + execS
  }

  /** Reduce a result to one row while touching every column of every row.
    * The hash is summed as double: the value is irrelevant (only the forced
    * evaluation matters) and a long sum of 64-bit hashes overflows under
    * ANSI mode.
    */
  private def force(df: DataFrame): DataFrame = {
    val h = xxhash64(struct(df.columns.toIndexedSeq.map(col): _*))
    df.select(sum(h.cast("double")))
  }

  /** Isolation between measurements: drop persisted/broadcast blocks
    * accumulated by earlier queries (incl. GlobalRank sort frames) and let
    * the ContextCleaner run, so one query's leftovers can't charge a GC
    * pause to the next one's timer (observed as a random ~45 s outlier per
    * full-suite run). */
  def isolate(spark: SparkSession): Unit = {
    stats.GlobalRank.releaseAll()
    spark.catalog.clearCache()
    System.gc()
  }

  /** The one timed routine: isolate, build the DataFrame, plan its
    * [[force]] wrapper (`executedPlan`), then collect it. The three phases
    * together time the same work a bare `force` does; `jobs` counts each
    * phase's jobs, and is read only after the timed span ends. */
  def sample(spark: SparkSession, jobs: SparkJobs.Counter)(build: => DataFrame): Sample = {
    isolate(spark)
    val t0 = System.nanoTime()
    val (df, buildScope) = jobs.in(build)
    val t1 = System.nanoTime()
    val (t2, execScope) = jobs.in {
      val forced = force(df)
      forced.queryExecution.executedPlan
      val planned = System.nanoTime()
      forced.collect()
      planned
    }
    val t3 = System.nanoTime()
    Sample((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
      jobs.jobs(buildScope), jobs.jobs(execScope))
  }

  private val AbForm = """([^=|]+)=([^|]+)\|([^|]+)""".r

  /** The sessions each query is measured on, with the suffix of its
    * label: the bench session alone, or under an A/B setting `key=v1|v2`
    * (each part non-blank) one child session per value, so the bench
    * session's conf is never written. */
  def arms(spark: SparkSession, ab: Option[String]): Seq[(String, SparkSession)] = ab match {
    case None => Seq("" -> spark)
    case Some(AbForm(k, a, b)) if Seq(k, a, b).forall(_.trim.nonEmpty) =>
      Seq("#A" -> GraftSession.child(spark, k.trim -> a.trim),
        "#B" -> GraftSession.child(spark, k.trim -> b.trim))
    case Some(bad) => throw new IllegalArgumentException(
      s"SPARK_GRAFT_BENCH_AB must have the form key=v1|v2, got '$bad'")
  }

  /** `runs` laps, one sample per query and arm per lap: each label's
    * samples, and the first error of each label that failed (a failed
    * label is not run again). The warm-up, the canary passes, the
    * measured laps and the isolated re-measure are all laps.
    *
    * Lap-randomized order (VERDICT r15 #6): the samples run as FULL
    * LAPS over the suite — one sample per query per lap — with each
    * lap's order shuffled under a FIXED per-lap seed (deterministic
    * across runs; no wall-clock anywhere). Back-to-back sampling let an
    * ambient host trend (page-cache churn, neighbor load ramping) bias
    * a contiguous block of queries in every sample they had; spreading
    * a query's three samples across the whole measured window turns a
    * monotone ambient trend into per-query noise the median absorbs
    * and the floor discards. Under an A/B, the arm that runs first
    * alternates from lap to lap.
    */
  def laps(jobs: SparkJobs.Counter, sfDir: String, names: Seq[String],
           arms: Seq[(String, SparkSession)], runs: Int)
      : (mutable.LinkedHashMap[String, Vector[Sample]], mutable.LinkedHashMap[String, String]) = {
    val samples = mutable.LinkedHashMap.empty[String, Vector[Sample]]
    val errors = mutable.LinkedHashMap.empty[String, String]
    for (n <- names; (arm, _) <- arms) samples(n + arm) = Vector.empty
    (1 to runs).foreach { lap =>
      val order = new scala.util.Random(0x9E3779B97F4A7C15L * lap).shuffle(names)
      val lapArms = if (lap % 2 == 0) arms.reverse else arms
      for (n <- order; (arm, s) <- lapArms; label = n + arm if !errors.contains(label)) {
        try samples(label) :+= sample(s, jobs)(SparkEntry.queries(n)(s, sfDir))
        catch {
          case NonFatal(e) =>
            errors(label) = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
            System.err.println(s"[bench] $label FAILED: ${errors(label)}")
        }
      }
      System.err.println(s"[bench] lap $lap/$runs over ${names.size} queries done")
    }
    (samples, errors)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val ab = sys.env.get("SPARK_GRAFT_BENCH_AB")
    val spark = GraftSession.start(GraftSession.envCores)
    val jobs = new SparkJobs.Counter(spark.sparkContext)
    val arms = this.arms(spark, ab)

    // optional args: bench only the named queries (dev A/B timing; the
    // driver invokes with no args → full suite)
    val names =
      if (args.nonEmpty) args.toSeq.sorted
      else SparkEntry.queries.keys.toSeq.sorted
    // Warm-up, on every arm so every arm's plan is codegen-warm.
    laps(jobs, sfDir, names, arms, 1)

    // Canary drift measurement (VERDICT r9 #3): a single full-suite run
    // cannot distinguish a sandbox-contention drift from an engine
    // regression. A fixed ~20-query subset reruns in one FIXED order at
    // the start and again at the end of the measured pass; identical code on
    // identical data, so the end/start ratio measures WITHIN-RUN
    // environment drift — published beside the per-query numbers so a
    // "+16% total" can be attributed (or not) to load noise. The canary
    // runs on the bench session only, under an A/B too.
    val canaryNames = {
      val step = math.max(1, names.size / 20)
      names.zipWithIndex.collect { case (n, i) if i % step == 0 => n }
    }
    def canaryPass(): Seq[(String, Double)] =
      laps(jobs, sfDir, canaryNames, Seq("" -> spark), 1)._1.toSeq
        .collect { case (n, Seq(s)) => n -> s.seconds }
    // Cross-RUN calibration (the canary above only measures WITHIN-run
    // drift): two fixed workloads, identical across runs AND rounds —
    // a full scan+hash-fold of lineitem (IO+codegen) and a fixed-count
    // driver-side LCG loop (pure CPU). Comparing calib numbers between
    // two BENCH_DETAIL files says how much of a total delta is machine
    // state (page cache, host contention) before any per-query reading.
    def calibrate(): (Double, Double) = {
      val t0 = System.nanoTime()
      // max, not sum: full-range hashes overflow a long sum under ANSI
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .selectExpr("max(xxhash64(l_orderkey, l_extendedprice))", "count(*)")
        .collect()
      val io = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      var acc = 0L
      var i = 0L
      while (i < 200000000L) { acc = acc * 6364136223846793005L + i; i += 1L }
      val cpu = (System.nanoTime() - t1) / 1e9
      if (acc == 42L) System.err.println("calib") // keep the fold live
      (io, cpu)
    }
    val (calIoS, calCpuS) = calibrate()
    System.err.println(f"[bench] calib start io ${calIoS}%.2fs cpu ${calCpuS}%.2fs")

    // Discard-first-lap protocol (VERDICT r14 #6): r14's official run
    // opened 26% slow (drift 0.79) even though every query had a warm-up
    // pass — the first MEASURED lap still absorbed C2 compilation and
    // allocator settle from the warm-up churn itself. Two extra canary
    // laps, run under the exact isolation discipline the measured laps
    // use and then thrown away, settle the JVM before anything counts.
    // Measured honestly (r15): one lap took the cold-open from 0.79 to
    // 0.91; past that, drift is dominated by AMBIENT host variance in
    // either direction (a second-lap run measured 1.23 — the END
    // inflated mid-run, which no start-side settle can fix). The
    // per-query median-of-3 with isolation and the floor_total (sum of
    // per-query minima) are the noise defenses that actually bound the
    // comparison; drift is the attribution signal that says which runs
    // to distrust.
    (1 to 2).foreach(_ => canaryPass())

    val canaryStart = canaryPass()

    // median of 3 isolated runs per query (VERDICT r2 #10): full-suite
    // per-query noise is ±50% from GC/page-cache interference, enough to
    // mask a real 2× regression under a single sample; the median of three
    // is robust to one bad draw and the [min,max] spread is reported so a
    // noisy median is visible as such.
    val Runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val (samplesBy, errors) = laps(jobs, sfDir, names, arms, Runs)
    val measured = samplesBy.toSeq.filter(_._2.nonEmpty)
    val times = measured.map { case (label, samples) =>
      val sorted = samples.map(_.seconds).sorted
      val med = sorted(sorted.size / 2)
      System.err.println(
        f"[bench] $label median $med%.2fs (min ${sorted.head}%.2f max ${sorted.last}%.2f)")
      label -> (med, sorted.head, sorted.last)
    }

    val canaryEnd = canaryPass()

    // Round-over-round floor attribution (VERDICT r10 #6): a per-query
    // floor that moved >1.5× since the LAST round's detail file gets an
    // ISOLATED re-measure — fresh cache/GC, run after everything else,
    // when no neighbor can charge it cache pressure. The re-measured
    // samples publish beside the in-run numbers, so "neighbor cache
    // pressure" is a number, not an assertion. The previous detail is
    // read BEFORE this run overwrites it.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_DETAIL_OUT", "BENCH_DETAIL.json")
    val prevFloors: Map[String, Double] = {
      val path = sys.env.getOrElse("SPARK_GRAFT_PREV_DETAIL", detailPath)
      try {
        val text = new String(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
        val at = text.indexOf("\"spread\":{")
        if (at < 0) Map.empty
        else {
          val body = text.substring(at + 10, text.indexOf('}', at))
          """"([^"]+)":\[([-0-9.Ee+]+),""".r.findAllMatchIn(body)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        }
      } catch { case NonFatal(_) => Map.empty }
    }
    val movedFloors: Seq[(String, Double, Double)] = times.flatMap {
      case (n, (_, lo, _)) => prevFloors.get(n).collect {
        case prev if prev > 0 && (lo > prev * 1.5 || lo < prev / 1.5) =>
          (n, prev, lo)
      }
    }
    val moved = movedFloors.map(_._1).toSet
    val movedNames = names.filter(n => arms.exists { case (arm, _) => moved(n + arm) })
    val isolated = laps(jobs, sfDir, movedNames, arms, Runs)._1.toSeq
      .collect { case (label, ss) if moved(label) => label -> ss.map(_.seconds) }
    isolated.foreach { case (label, ss) =>
      System.err.println(
        s"[bench] isolated re-measure $label: " + ss.map(x => f"$x%.2f").mkString(", "))
    }
    def obj[V](p: Seq[(String, V)]): String =
      p.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    def medians[A: Ordering](f: Sample => A): String =
      obj(measured.map { case (label, ss) => label -> ss.map(f).sorted.apply(ss.size / 2) })
    val qs = obj(times.map { case (k, (m, _, _)) => k -> m })
    val sp = obj(times.map { case (k, (_, lo, hi)) => k -> s"[$lo,$hi]" })
    val es = obj(errors.toSeq.map { case (k, v) => k -> Json.str(v) })
    val phases =
      s""""build_s":${medians(_.buildS)},"plan_s":${medians(_.planS)},"exec_s":${medians(_.execS)},"build_jobs":${medians(_.buildJobs)},"exec_jobs":${medians(_.execJobs)}"""
    val total = times.map(_._2._1).sum
    // floor = sum of per-query minima: the least-noise estimate of the
    // engine's cost; total-vs-floor gap is measurement noise by definition
    val floor = times.map(_._2._2).sum
    val (cs, ce) = (canaryStart.map(_._2).sum, canaryEnd.map(_._2).sum)
    val drift = if (cs > 0) ce / cs else 1.0
    System.err.println(f"[bench] canary drift ${drift}%.3f (start ${cs}%.1fs end ${ce}%.1fs over ${canaryStart.size} queries)")
    val canaryJson =
      s"""{"start_total":$cs,"end_total":$ce,"drift":$drift,"start":${obj(canaryStart)},"end":${obj(canaryEnd)}}"""
    val (calIoE, calCpuE) = calibrate()
    System.err.println(f"[bench] calib end io ${calIoE}%.2fs cpu ${calCpuE}%.2fs")
    val calibJson =
      s"""{"io_start":$calIoS,"cpu_start":$calCpuS,"io_end":$calIoE,"cpu_end":$calCpuE}"""
    val movedJson = obj(movedFloors.map { case (n, p, c) => n -> s"[$p,$c]" })
    val isolatedJson = obj(isolated.map { case (n, ss) => n -> ss.mkString("[", ",", "]") })
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"spread":$sp,$phases,"errors":$es,"floor_total":$floor,"canary":$canaryJson,"calib":$calibJson,"floor_moved":$movedJson,"isolated":$isolatedJson,"ab":${ab.fold("null")(Json.str)},"protocol":"warmup-all + 2 discarded canary settle laps (r15) + median-of-$Runs isolated-cache measures in seeded lap-randomized order with a suite-sized codegen class cache (r16); each measure splits into build, plan (executedPlan of the forced wrapper) and exec seconds with the Spark jobs of build and of plan+exec, published as per-query medians build_s/plan_s/exec_s/build_jobs/exec_jobs","sf":${Json.str(sfDir)}}"""

    // Per-query detail to a file (the full line is ~9 KB at 149 queries
    // and overflowed the driver's 2000-char stdout capture in round 6).
    val detailOk =
      try {
        val w = new java.io.PrintWriter(detailPath, "UTF-8")
        try w.println(full) finally w.close()
        true
      } catch { case NonFatal(_) => false }

    println(full) // full detail first, for whole-stdout consumers
    // Compact machine-readable summary as the FINAL stdout line — this is
    // what a tail-truncating capture must still parse.
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":${Json.str(sfDir)},"n":${times.size},"error_count":${errors.size},"floor_total":$floor,"drift":$drift,"detail":${if (detailOk) Json.str(detailPath) else "null"}}""")
    jobs.close()
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
