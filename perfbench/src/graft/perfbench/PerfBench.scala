package graft.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.pipeline.BatchPipeline
import graft.sources.SyntheticBars
import graft.streaming.StreamingEtl
import graft.util.Json

/** The benchmark's executor: one JVM, one SparkSession at a time, one client
  * in a closed loop (each operation starts when the previous one ends).
  * `perfbench/run.py` generates the inputs, chooses the workload's
  * parameters, launches this main and turns its record of operations into
  * metrics.
  *
  * Modes:
  *   - `--mode oracle-sql --pool a,b --out f.json`: writes the DuckDB oracle
  *     SQL of the named declared queries.
  *   - `--mode digests --pool a,b --expected dir --work dir --out f.tsv`:
  *     writes the digest of each query's expected result (`dir/<name>.parquet`),
  *     one `Digest.line` per query, so that runs compare against it without
  *     running a Spark job before their set-up.
  *   - `--mode run ...`: sets up the workload once, cold (session start
  *     counted from the JVM's own start, generated data, `--warmup-laps`
  *     unmeasured laps), then runs operations until `--seconds` have passed
  *     and writes every operation with its latency and check result to
  *     `--out`. With `--trace 1`, alternate laps are traced: spans around
  *     each layer call plus listener counts per phase.
  */
object PerfBench {

  final class Opts(args: Array[String]) {
    private val kv = mutable.LinkedHashMap.empty[String, String]
    val confs = mutable.ArrayBuffer.empty[(String, String)]
    args.grouped(2).foreach {
      case Array("--conf", c) =>
        val i = c.indexOf('=')
        confs += (c.take(i) -> c.drop(i + 1))
      case Array(k, v) if k.startsWith("--") => kv(k.drop(2)) = v
      case other => sys.error(s"bad argument ${other.mkString(" ")}")
    }
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
    def dbl(k: String): Double = apply(k).toDouble
    def opt(k: String): Option[String] = kv.get(k)
    def list(k: String): Seq[String] = kv.get(k).toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
  }

  def main(args: Array[String]): Unit = {
    val o = new Opts(args)
    o("mode") match {
      case "oracle-sql" =>
        val sql = SparkEntry.oracleSql
        writeFile(o("out"), o.list("pool").flatMap(n => sql.get(n).map(n -> _))
          .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}"))
      case "digests" => new Run(o).writeDigests()
      case "run" => new Run(o).run()
      case m => sys.error(s"unknown mode $m")
    }
  }

  def writeFile(path: String, text: String): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try w.println(text) finally w.close()
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")

  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")

  /** Every node of an executed plan, through adaptive wrappers, query
    * stages and subqueries. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case n => n +: (n.children ++ n.subqueries).flatMap(planNodes)
  }

  private val WindowExec = """(Global|Keyed)\w*Exec|RangeAggExec""".r

  /** A graft custom window exec (the heal lane's subject). */
  def isGraftWindow(n: SparkPlan): Boolean =
    n.getClass.getName.startsWith("graft.") &&
      WindowExec.pattern.matcher(n.getClass.getSimpleName).matches()

  def isGraftNode(n: SparkPlan): Boolean = n.getClass.getName.startsWith("graft.")

  def isExchange(n: SparkPlan): Boolean = n match {
    case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
    case _ => false
  }
}

/** Tolerant result digest, the form in which query outputs are checked.
  *
  * One aggregate row over the result touches every column of every row, so
  * it forces full evaluation the way `graft.Bench.force` does, and it is
  * also what gets compared: the row count, and per column (in name order)
  * the non-null count plus, for numeric columns, the sum and the sum of
  * absolute values as doubles; for other columns, an order-free sum of
  * 31-bit hashes of the value cast to string. Sums compare with a relative
  * tolerance, because two engines fold floating-point values in different
  * orders; counts and hashes compare exactly. Which columns are numeric is
  * taken from the expected result's schema, so both sides use the same
  * expressions.
  */
final case class Digest(names: Seq[String], numeric: Set[String]) {
  def exprs: Seq[Column] = count(lit(1)) +: names.flatMap { n =>
    val c = col(s"`$n`")
    if (numeric(n)) Seq(count(c), sum(c.cast("double")), sum(abs(c.cast("double"))))
    else Seq(count(c), sum(pmod(xxhash64(c.cast("string")), lit(2147483647L))))
  }

  def of(df: DataFrame): DataFrame = df.select(exprs: _*)

  /** Empty if equal, else the first difference. */
  def diff(actual: Row, expected: Row): Option[String] = {
    def d(i: Int): Double = if (actual.isNullAt(i)) 0.0 else actual.getAs[Number](i).doubleValue
    def e(i: Int): Double = if (expected.isNullAt(i)) 0.0 else expected.getAs[Number](i).doubleValue
    if (actual.getLong(0) != expected.getLong(0))
      return Some(s"rows ${actual.getLong(0)} vs ${expected.getLong(0)}")
    var i = 1
    names.foreach { n =>
      if (actual.getLong(i) != expected.getLong(i))
        return Some(s"$n non-null ${actual.getLong(i)} vs ${expected.getLong(i)}")
      if (numeric(n)) {
        val scale = math.max(1.0, math.max(math.abs(d(i + 2)), math.abs(e(i + 2))))
        val close = (d(i + 1).isNaN && e(i + 1).isNaN) ||
          math.abs(d(i + 1) - e(i + 1)) <= 1e-6 * scale
        if (!close) return Some(s"$n sum ${d(i + 1)} vs ${e(i + 1)}")
        i += 3
      } else {
        if (d(i + 1) != e(i + 1)) return Some(s"$n values differ")
        i += 2
      }
    }
    None
  }
}

object Digest {
  def forExpected(schema: StructType): Digest = Digest(
    schema.fieldNames.toSeq.sorted,
    schema.fields.collect { case f if f.dataType.isInstanceOf[NumericType] => f.name }.toSet)

  private val Sep = "\u001f"

  /** A query's digest and its digest row as one tab-separated line: query
    * name, column names, numeric columns, then each value as `N` (null),
    * `L<long>` or `D<double>`. */
  def line(query: String, d: Digest, row: Row): String = {
    require(d.names.forall(n => !n.contains('\t') && !n.contains(Sep)), s"$query: column name with a separator")
    Seq(query, d.names.mkString(Sep), d.numeric.toSeq.sorted.mkString(Sep),
      row.toSeq.map {
        case null => "N"
        case l: java.lang.Long => s"L$l"
        case x: java.lang.Double => s"D$x"
        case v => sys.error(s"$query: digest value of type ${v.getClass.getName}")
      }.mkString(Sep)).mkString("\t")
  }

  /** Reads back a `line`: the query name, its digest and its digest row. */
  def parse(line: String): (String, Digest, Row) = {
    val Array(query, names, numeric, values) = line.split("\t", -1)
    def items(f: String): Seq[String] = if (f.isEmpty) Seq.empty else f.split(Sep, -1).toSeq
    val row = Row.fromSeq(items(values).map { v =>
      v.head match {
        case 'N' => null
        case 'L' => v.tail.toLong
        case 'D' => v.tail.toDouble
      }
    })
    (query, Digest(items(names), items(numeric).toSet), row)
  }
}

/** One operation's record. `layers` holds the traced per-layer readings. */
final case class OpRecord(id: Int, lap: Int, name: String, traced: Boolean,
                          latencyS: Double, error: Option[String],
                          layers: Map[String, Double], etl: String = "null")

final class Run(o: PerfBench.Opts) {
  import PerfBench._

  // lazy, as is every value read from them: `--mode digests` passes none
  private lazy val kind = o("kind")
  private lazy val seed = o("seed").toLong
  private lazy val seconds = o.dbl("seconds")
  private lazy val trace = o("trace") == "1"
  private val work = new File(o("work")).getAbsoluteFile
  private val fixtures = o.opt("fixtures").orNull
  private val pool = o.list("pool")
  private val cores = Runtime.getRuntime.availableProcessors
  private var spark: SparkSession = _
  private var probe: Probe = _
  private var opId = 0

  /** Configured the way `graft.Bench` configures its session, with every
    * directory Spark writes to kept inside the run's work directory. */
  private def startSession(): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").toString)
      .config("spark.local.dir", new File(work, "local").toString)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
    o.confs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def stopSession(): Unit = if (spark != null) {
    if (probe != null) probe.close()
    graft.stats.GlobalRank.releaseAll()
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
    probe = null
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** `f` as a traced span when `traced`, else run plainly. */
  private def layer[A](traced: Boolean, op: Int, name: String)(f: => A): (A, Double) =
    if (traced) probe.span(op, name)(f) else (f, 0.0)

  private def msg(t: Throwable): String =
    s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("")}".take(300)

  private def engine(c: Counts, seen: Seen): Map[String, Double] = Map(
    "stages" -> c.stages.toDouble, "tasks" -> c.tasks.toDouble,
    "task_s" -> c.taskMs / 1e3, "gc_s" -> c.gcMs / 1e3,
    "scan_input_mb" -> seen.scanBytes / 1e6, "shuffle_write_mb" -> c.shuffleWrite / 1e6,
    "shuffle_read_mb" -> c.shuffleRead / 1e6, "spill_mb" -> c.spill / 1e6)

  // ---------------------------------------------------------------- queries

  private val digests = mutable.Map.empty[String, (Digest, Row)]
  private val healFailures = mutable.LinkedHashSet.empty[String]

  /** One declared query: build the DataFrame and its digest wrapper, plan
    * it, evaluate it, compare the digest. */
  private def queryOp(name: String, lap: Int, traced: Boolean): OpRecord = {
    val id = opId
    opId += 1
    var layers = Map.empty[String, Double]
    val t0 = System.nanoTime()
    val result = try {
      Right(layer(traced, id, "op") {
        val (wrapped, buildS) = layer(traced, id, "build") {
          digests(name)._1.of(SparkEntry.queries(name)(spark, fixtures))
        }
        val (_, planS) = layer(traced, id, "plan")(wrapped.queryExecution.executedPlan)
        val (rows, execS) = layer(traced, id, "exec")(wrapped.collect())
        if (traced) layers = Map("build_s" -> buildS, "plan_s" -> planS, "exec_s" -> execS)
        (rows.head, wrapped)
      }._1)
    } catch { case t: Throwable => Left(msg(t)) }
    val latency = secs(t0)
    val error = result match {
      case Left(m) => Some(m)
      case Right((row, wrapped)) =>
        if (traced) {
          val seen = probe.take(id)
          val nodes = planNodes(wrapped.queryExecution.executedPlan)
          layers ++= Map(
            "build_jobs" -> seen.phase("build").jobs.toDouble,
            "exec_jobs" -> seen.phase("exec").jobs.toDouble,
            "graft_exec_nodes" -> nodes.count(isGraftNode).toDouble,
            "exchanges" -> nodes.count(isExchange).toDouble) ++ engine(seen.phase("exec"), seen)
        }
        if (lap == 0 && o.opt("heal-check").isDefined &&
            !planNodes(wrapped.queryExecution.executedPlan).exists(isGraftWindow))
          healFailures += s"$name: no graft window exec at the workload's gate"
        val (d, expected) = digests(name)
        d.diff(row, expected)
    }
    graft.stats.GlobalRank.releaseAll()
    spark.catalog.clearCache()
    OpRecord(id, lap, name, traced, latency, error, layers)
  }

  /** `--mode digests`: the digest of each oracle result `run.py` wrote as
    * parquet, taken in a session configured as a run's. */
  def writeDigests(): Unit = {
    work.mkdirs()
    spark = startSession()
    try writeFile(o("out"), pool.map { n =>
      val exp = spark.read.parquet(new File(o("expected"), s"$n.parquet").toString)
      val d = Digest.forExpected(exp.schema)
      Digest.line(n, d, d.of(exp).collect().head)
    }.mkString("\n"))
    finally stopSession()
  }

  /** Expected digests, from the file `writeDigests` wrote. */
  private def loadExpected(): Unit = {
    Files.readAllLines(Paths.get(o("expected-digests"))).asScala.filter(_.nonEmpty).foreach { l =>
      val (n, d, row) = Digest.parse(l)
      digests(n) = d -> row
    }
    val missing = pool.filterNot(digests.contains)
    require(missing.isEmpty, s"no expected digest for ${missing.mkString(", ")}")
  }

  /** The heal lane's other half: at the default
    * `spark.graft.window.stockInputBytes` no graft window exec is planned. */
  private def checkStockAtDefault(): Unit = {
    val key = "spark.graft.window.stockInputBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.unset(key)
    try pool.foreach { n =>
      val plan = SparkEntry.queries(n)(spark, fixtures).queryExecution.executedPlan
      if (planNodes(plan).exists(isGraftWindow))
        healFailures += s"$n: graft window exec planned at the default gate"
    } finally prev.foreach(spark.conf.set(key, _))
  }

  // -------------------------------------------------------------------- ETL

  private def intOpt(k: String) = o.opt(k).map(_.toInt).getOrElse(0)
  private val tickers = intOpt("tickers")
  private val days = intOpt("days")
  private val perArrival = intOpt("per-arrival")
  private val lateEvery = intOpt("late-every")
  private val lakeStart = java.time.LocalDate.parse("2020-01-01")
  private val processingDate = "2024-06-28"
  private def ticker(t: Int) = f"TK$t%04d"

  /** Lake gaps: (ticker, day) pairs left out of the lake, about one day in
    * fifty, drawn from the seed. Late arrivals fill them. */
  private lazy val gaps: mutable.Queue[(Int, Int)] = {
    val r = new Random(seed * 7919 + 17)
    val all = for (t <- 0 until tickers; d <- 7 until days if r.nextInt(50) == 0) yield (t, d)
    mutable.Queue(r.shuffle(all): _*)
  }
  private lazy val gapIds = gaps.toSeq.map { case (t, d) => t.toLong * days + d }

  private case class Dirs(raw: String, refined: String, ckpt: String)
  private val etlDirs = {
    val base = new File(work, "etl")
    Dirs(new File(base, "raw").toString, new File(base, "refined").toString,
      new File(base, "ckpt").toString)
  }

  /** One bar for (ticker, day), in the raw schema: `SyntheticBars`' value
    * formulas with the day's offset from the lake start. */
  private def barRow(t: Int, d: Int): Row = {
    val h = SyntheticBars.tickerHash(ticker(t))
    val v = (h * (d + 1)) % 997
    Row(java.sql.Timestamp.valueOf(lakeStart.plusDays(d.toLong).atStartOfDay()),
      100.0 + ((h * d) % 997) / 10.0, 101.0 + v / 10.0, 99.0 + v / 10.0,
      100.0 + v / 10.0, 1000L + (h * (d + 1)) % 9973, ticker(t))
  }

  /** The whole lake as one plan: `spark.range` over tickers × days minus the
    * gaps, [[barRow]]'s formulas as column expressions, landed by one
    * `writeRaw`. */
  private def generateLake(d: Dirs): Unit = {
    val s = spark
    import s.implicits._
    val hashes = (0 until tickers)
      .map(t => (t, ticker(t), SyntheticBars.tickerHash(ticker(t)))).toDF("t", "ativo", "h")
    val v = (col("h") * (col("d") + 1)) % 997L
    val bars = spark.range(tickers.toLong * days)
      .join(broadcast(gapIds.toDF("id")), Seq("id"), "left_anti")
      .select((col("id") / days).cast("int").as("t"), (col("id") % days).as("d"))
      .join(broadcast(hashes), "t")
      .select(
        date_add(lit(lakeStart.toString).cast("date"), col("d").cast("int"))
          .cast("timestamp").as("Date"),
        (lit(100.0) + ((col("h") * col("d")) % 997L) / 10.0).as("Open"),
        (lit(101.0) + v / 10.0).as("High"),
        (lit(99.0) + v / 10.0).as("Low"),
        (lit(100.0) + v / 10.0).as("Close"),
        (lit(1000L) + (col("h") * (col("d") + 1)) % 9973L).as("Volume"),
        col("ativo"))
    BatchPipeline.writeRaw(bars, d.raw, SaveMode.Overwrite)
  }

  /** One incremental `AvailableNow` cycle over everything not yet seen. */
  private def cycle(d: Dirs): Unit =
    StreamingEtl.runOnce(spark, d.raw, d.refined, d.ckpt, processingDate)

  private def land(d: Dirs, bars: Seq[(Int, Int)]): Unit =
    BatchPipeline.writeRaw(spark.createDataFrame(
      bars.map { case (t, dd) => barRow(t, dd) }.asJava, BatchPipeline.rawSchema), d.raw)

  /** The ETL warm-up: the backfill cycle, then `laps` arrivals shaped like
    * the measured ones (days past them all, for the first tickers). With one
    * such arrival the first measured ones still ran 15–30 % slower than the
    * rest. */
  private def warmEtl(d: Dirs, laps: Int): Unit = {
    cycle(d)
    (0 until laps).foreach { k =>
      land(d, (0 until perArrival).map(t => (t, days + 1000 + k)))
      cycle(d)
    }
  }

  /** Arrival `i`: day `days + i` for a seeded subset of tickers and, on
    * every `lateEvery`-th arrival, one lake gap filled late. Which tickers
    * and which gap come from the seed; how many do not, so every seed asks
    * the same amount of work. */
  private def arrival(i: Int): Seq[(Int, Int)] = {
    val r = new Random(seed * 1000003 + i)
    val fresh = r.shuffle((0 until tickers).toList).take(perArrival).map(t => (t, days + i))
    val late = if (i % lateEvery == lateEvery - 1) gaps.removeHeadOption().toSeq else Nil
    fresh ++ late
  }

  private def parquetFiles(dir: String): Map[String, Long] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator.asScala
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }

  /** One arrival: land it in raw/, then run one incremental cycle. */
  private def etlOp(d: Dirs, lap: Int, traced: Boolean): OpRecord = {
    val id = opId
    opId += 1
    val landed = arrival(id)
    val touched = landed.map(_._1).distinct.sorted.map(ticker)
    val before = if (traced) parquetFiles(d.raw) else Map.empty[String, Long]
    var landS, cycleS = 0.0
    val t0 = System.nanoTime()
    val error = try {
      layer(traced, id, "op") {
        landS = layer(traced, id, "land")(land(d, landed))._2
        cycleS = layer(traced, id, "cycle")(cycle(d))._2
      }
      None
    } catch { case t: Throwable => Some(msg(t)) }
    val latency = secs(t0)
    var layers = Map.empty[String, Double]
    if (traced && error.isEmpty) {
      val seen = probe.take(id)
      val all = new Counts
      seen.phases.values.foreach(all += _)
      val after = parquetFiles(d.raw)
      val rawBytes = (after.keySet -- before.keySet).toSeq.map(after).sum.toDouble
      val refined = touched.flatMap(t => parquetFiles(s"${d.refined}/ativo=$t").values)
      layers = Map(
        "land_s" -> landS, "cycle_s" -> cycleS,
        "raw_files_written" -> (after.keySet -- before.keySet).size.toDouble,
        "refined_write_s" -> seen.writes.collect { case (p, s) if p.contains(d.refined) => s }.sum,
        "refined_files_written" -> refined.size.toDouble,
        "refined_bytes_written" -> refined.sum.toDouble,
        "reread_rows_per_landed_row" ->
          math.max(0L, seen.phase("cycle").inputRows - landed.size).toDouble / landed.size,
        "write_amplification" -> (if (rawBytes > 0) refined.sum / rawBytes else 0.0),
        "touched_assets" -> touched.size.toDouble,
        "exec_jobs" -> all.jobs.toDouble,
        "stream_latest_offset_s" -> seen.triggers.getOrElse("latestOffset", 0L) / 1e3,
        "stream_get_batch_s" -> seen.triggers.getOrElse("getBatch", 0L) / 1e3,
        "stream_add_batch_s" -> seen.triggers.getOrElse("addBatch", 0L) / 1e3,
        "stream_wal_commit_s" -> seen.triggers.getOrElse("walCommit", 0L) / 1e3,
        "stream_query_planning_s" -> seen.triggers.getOrElse("queryPlanning", 0L) / 1e3
      ) ++ engine(all, seen)
    }
    // the operation's output, digested per touched ticker for run.py's
    // DuckDB recomputation over raw/
    val etl = if (error.isDefined) "null" else {
      val got = spark.read.parquet(d.refined)
        .filter(col("ativo").isin(touched: _*))
        .groupBy("ativo")
        .agg(count(lit(1)), count("mm_7d"), coalesce(sum("mm_7d"), lit(0.0)),
          max("avg_close_price"), max("total_volume").cast("double"))
        .collect()
        .map(r => Json.str(r.getString(0)) + ":" + arr(Seq(r.getLong(1).toString,
          r.getLong(2).toString, num(r.getDouble(3)), num(r.getDouble(4)), num(r.getDouble(5)))))
      obj(Seq(
        "landed" -> arr(landed.map { case (t, dd) =>
          arr(Seq(Json.str(ticker(t)), Json.str(lakeStart.plusDays(dd.toLong).toString)))
        }),
        "touched" -> arr(touched.map(Json.str)),
        "refined" -> got.mkString("{", ",", "}")))
    }
    // the check's own jobs and scans are not the operation's
    if (traced) probe.take(id)
    OpRecord(id, lap, "arrival", traced, latency, error, layers, etl)
  }

  // -------------------------------------------------------------- the run

  def run(): Unit = {
    work.mkdirs()
    // session start counts from the JVM's own start: a cold start is JVM
    // boot, class loading and the SparkSession
    spark = startSession()
    val session =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    var checkS = 0.0
    if (kind == "query") {
      // checker work, kept out of the set-up time; it only reads a file,
      // so no Spark job warms the session before the timed warm-up
      val tc = System.nanoTime()
      loadExpected()
      checkS += secs(tc)
    }
    val t1 = System.nanoTime()
    if (kind == "etl") generateLake(etlDirs)
    val datagen = secs(t1)
    val t2 = System.nanoTime()
    // JIT compilation goes on for several laps after a cold start: with one
    // warm-up lap the measured laps still shrank by a fifth
    val laps = o.int("warmup-laps")
    if (kind == "etl") warmEtl(etlDirs, laps)
    else (1 to laps).foreach(_ => pool.foreach(n => queryOp(n, 0, traced = false)))
    val warmup = secs(t2)
    val setup = Map("session_start_s" -> session, "datagen_s" -> datagen, "warmup_s" -> warmup)
    System.err.println(
      f"[perfbench] setup: session $session%.2fs datagen $datagen%.2fs warmup $warmup%.2fs")
    opId = 0
    if (o.opt("heal-check").isDefined) {
      val tc = System.nanoTime()
      checkStockAtDefault()
      checkS += secs(tc)
    }
    if (trace) probe = new Probe(spark)
    val ops = mutable.ArrayBuffer.empty[OpRecord]
    val start = System.nanoTime()
    var lap = 1
    // whole laps until the time is up; a traced run alternates untraced and
    // traced laps, so the two latencies give the tracing overhead
    while (secs(start) < seconds || (trace && !ops.exists(_.traced))) {
      val traced = trace && lap % 2 == 0
      if (probe != null) {
        // events of the previous lap must not reach a lap traced now
        org.apache.spark.PerfBenchBus.drain(spark.sparkContext)
        probe.enabled = traced
      }
      if (kind == "etl") ops += etlOp(etlDirs, lap, traced)
      else new Random(seed * 7777 + lap).shuffle(pool).foreach(n => ops += queryOp(n, lap, traced))
      lap += 1
    }
    val measured = secs(start)
    val rss = peakRssMb()
    if (trace) writeFile(o("spans"), arr(probe.spans.map(s => obj(Seq(
      "id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
      "name" -> Json.str(s.name), "start_ns" -> s.startNs.toString,
      "end_ns" -> s.endNs.toString)))))
    stopSession()
    writeFile(o("out"), obj(Seq(
      "cores" -> cores.toString,
      "setup" -> obj(setup.map { case (k, v) => k -> num(v) }),
      "check_setup_s" -> num(checkS),
      "heal_failures" -> arr(healFailures.map(Json.str)),
      "measure_s" -> num(measured),
      "peak_rss_mb" -> num(rss),
      "ops" -> arr(ops.map(r => obj(Seq(
        "id" -> r.id.toString, "lap" -> r.lap.toString, "name" -> Json.str(r.name),
        "traced" -> r.traced.toString, "latency_s" -> num(r.latencyS),
        "error" -> r.error.map(Json.str).getOrElse("null"),
        "layers" -> obj(r.layers.map { case (k, v) => k -> num(v) }),
        "etl" -> r.etl)))))))
  }

  /** Peak resident set of this process, from the kernel. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
}
