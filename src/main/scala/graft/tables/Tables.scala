package graft.tables

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType,
  TimestampType}

import graft.plans.FileEvidence
import graft.util.ArtifactStore

/** Whether a [[Tables]] loader applies the scan-parallelism heal
  * ([[Tables.table]]). Chosen per load by the query that builds the
  * DataFrame, so building never touches session state.
  */
sealed trait Scan
object Scan {
  /** The file's own scan splits. */
  case object Stock extends Scan
  /** Hash-repartition on the table's key when the layout gate finds a
    * single-split file. */
  case object Parallel extends Scan
}

/** Loaders for the driver-generated fixture tables (`TESTDATA.md`).
  *
  * Each table is a single parquet file under `<sfDir>/<name>.parquet`.
  * A plain `spark.read.parquet(path)` infers the schema from the footers
  * with one Spark job on every call; the loaders instead pass the reader
  * a schema memoised per file version ([[fileSchema]]), so a warm load
  * launches no job — the catalog's "crawl once, query many" split. The
  * loaders of keyed tables also measure column facts of the file version
  * into [[FileEvidence]], once per version, and write no session conf.
  * Catalyst handles column pruning and filter pushdown, so callers
  * should select/filter on the returned DataFrame rather than pre-trim here.
  */
object Tables {
  /** Load `<sfDir>/<name>.parquet`, with the scan-parallelism heal when
    * `scan` is [[Scan.Parallel]].
    *
    * Scan-parallelism heal (OPTIMIZATION r16, guide §2.5 "input skew:
    * one huge unsplittable file"). A parquet ROW GROUP is the atomic
    * scan unit: Spark splits files by bytes, but every split that does
    * not contain a row-group midpoint reads zero rows — a table written
    * as one file with one row group (exactly the driver fixtures'
    * layout) is scanned by ONE task regardless of core count, and each
    * of the ~270 bench queries serialized its scan, sort and kernel
    * work through that task. The heal hash-repartitions on the table's
    * high-entropy primary key immediately after the read — one ~10 MB
    * local exchange buys 32-way parallelism for everything above it.
    *
    * Scale-adaptive, NOT a local[32] constant (the optimization-round
    * ground rule): the decision is MEASURED from the file layout, once
    * per (file version, cores) per JVM — a table carrying at least as many
    * row groups as cores (any production-scale table; at 100 TB a
    * table has thousands of files × row groups) or at least as many
    * files as cores keeps the stock scan-split parallelism, and the
    * exchange never plans. Tiny tables (< [[MinRowsPerCore]] × cores
    * rows) also stay stock: 32 near-empty tasks cost more scheduling
    * than one full task.
    *
    * The repartition key is the table's primary key (deterministic,
    * high-entropy — never rand()/round-robin, whose retry hazards and
    * pre-shuffle sort the guide §2.5 warns about), so results are
    * partition-assignment-deterministic and a downstream join or
    * groupBy on the same key REUSES the exchange's hashpartitioning
    * instead of adding one.
    *
    * [[Scan.Stock]] is the default; a query opts in, measured, not
    * blanket (r16 A/B at sf0.1/32 cpus): the heal wins big on
    * single-scan plans whose downstream per-row work dwarfs one pass of
    * the bytes (a3b −0.6 s, w3 −0.5 s, x2_jaccard −0.65 s), but a
    * MULTI-BRANCH plan pays the repartition once per branch (column
    * pruning gives each branch a different scan, so the exchanges never
    * canonicalize equal and exchange reuse cannot dedupe them: x60's
    * plan went to 19 exchanges, +1.2 s; x1/x46/w9 ~3× slower). Bench A/B
    * of the blanket form: 150.5 s → 228.1 s. The reference-parity float
    * aggregates (a1 / flagship / j1 / j7 / q1) must stay stock: their
    * last-ulp equality with the DuckDB oracle holds because BOTH engines
    * fold the values in file order, and a 32-way partial-agg fold is a
    * different summation order.
    */
  def table(spark: SparkSession, sfDir: String, name: String,
            scan: Scan = Scan.Stock): DataFrame =
    load(spark, sfDir, name, scan)

  /** [[table]] from ONE listing of the file, which also keys the
    * measured evidence of that version in [[FileEvidence]]: the distinct
    * count of each `ndv` column and the joint uniqueness of each `unique`
    * column set, measured once per (file version, columns) through
    * [[graft.util.ArtifactStore]] — the fixture-dir analogue of catalog
    * `ANALYZE … FOR COLUMNS` (path reads have no CatalogTable, so catalog
    * stats can never prove them). The evidence is honest in both
    * directions: a measured low count lets `PARTITION BY <column>` heal
    * as a PROVEN plan, a measured high count keeps Spark's already
    * parallel hash window, and a key set measured non-unique lets no
    * rank self-join collapse. Uniqueness is `countDistinct(struct(c₁…cₙ))
    * == count(*)`, EXACT (see RankJoinRule.measureAndRegister for why a
    * sketch estimate is unsound here). */
  private def load(s: SparkSession, d: String, name: String, scan: Scan,
                   ndv: Seq[String] = Nil,
                   unique: Seq[Seq[String]] = Nil): DataFrame = {
    val path = s"$d/$name.parquet"
    val files = dataFiles(s, path)
    val v = FileEvidence.version(files.toSeq)
    val df = s.read.schema(fileSchema(s, path, v)).parquet(path)
    val at = FileEvidence.FileVersion(Set(FileEvidence.normalizePath(path)), v)
    ndv.filter(FileEvidence.ndvOf(at, _).isEmpty).foreach { c =>
      FileEvidence.putNdv(at, c, ArtifactStore.getOrCompute(s, "col_ndv",
        Seq(d, v, name, c), ArtifactStore.LongsCodec) {
        Seq(df.select(c).distinct().count())
      }.head)
    }
    unique.filter(FileEvidence.uniqueOf(at, _).isEmpty).foreach { cs =>
      val m = ArtifactStore.getOrCompute(s, "col_unique",
        Seq(d, v, name, cs.sorted.mkString("+")), ArtifactStore.LongsCodec) {
        Seq(df.select(cs.map(col): _*).distinct().count(), df.count())
      }
      FileEvidence.putUnique(at, cs, m.length == 2 && m(0) == m(1) && m(1) > 0L)
    }
    val key = scanKeys.getOrElse(name, Seq.empty)
    if (scan == Scan.Stock || key.isEmpty) df
    else {
      val n = scanTarget(s, path, files, v)
      if (n <= 0) df else df.repartition(n, key.map(col): _*)
    }
  }

  /** The data files behind `path` (the file itself, or a directory's
    * visible files), as Hadoop sees them — local, HDFS and `s3a://`
    * alike. */
  private def dataFiles(s: SparkSession, path: String): Array[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    if (!st.isDirectory) Array(st)
    else fs.listStatus(p).filter(f => f.isFile &&
      !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
  }

  /** The session confs that change the schema Spark infers from parquet
    * footers (the inputs of its `ParquetToSparkSchemaConverter`, plus
    * `mergeSchema` for multi-file tables). */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled")

  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** Spark's own inferred schema of `path` — one footer-merge job the
    * first time a (file version, inference confs) pair is seen in this
    * JVM, a map lookup after that. Spark's conversion is reused, never
    * re-implemented, so the types are exactly what an unhinted read
    * would give. */
  private def fileSchema(s: SparkSession, path: String,
                         version: String): StructType = {
    val confs = InferenceConfs.map(k => s.conf.getOption(k).getOrElse(""))
    schemaMemo.computeIfAbsent(
      s"$path@$version@${confs.mkString(",")}",
      _ => s.read.parquet(path).schema)
  }

  private val scanKeys: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("l_orderkey"),
    "orders" -> Seq("o_orderkey"),
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "documents" -> Seq("doc_id"),
    "events" -> Seq("event_id"),
    "embeddings" -> Seq("vec_id"))

  /** Row floor of the heal: below this many rows per core a table stays
    * on its single scan task. */
  private val MinRowsPerCore = 64L

  private val scanTargetMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Integer]()

  /** 0 = leave the stock scan split; > 0 = repartition to that many
    * partitions. Measured once per (file version, cores): #files, then
    * (only when #files < cores) footer row-group and row counts of those
    * files — a handful of footer reads, never a data scan.
    */
  private def scanTarget(s: SparkSession, path: String,
                         files: Array[FileStatus], version: String): Int = {
    val cores = s.sparkContext.defaultParallelism
    scanTargetMemo.computeIfAbsent(s"$path@$version@$cores", _ => {
      try {
        if (files.length >= cores) 0
        else {
          val conf = s.sparkContext.hadoopConfiguration
          var groups = 0L
          var rows = 0L
          files.foreach { f =>
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromStatus(f, conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try {
              groups += r.getRowGroups.size().toLong
              rows += r.getRecordCount
            } finally r.close()
          }
          if (groups >= cores || rows < MinRowsPerCore * cores) 0 else cores
        }
      } catch { case NonFatal(_) => 0 } // unreadable layout: leave stock
    })
  }

  /** Cheap content stamp of a fixture table — its file version (every
    * data file's name, Hadoop length and modification time, as the
    * schema memo keys it), for use in durable-artifact keys: an artifact
    * keyed only by PATH serves stale index data if the file is
    * regenerated in place between sessions — the stamp makes the key
    * change with the file, on any Hadoop file system (`file:`, `s3a://`,
    * `hdfs://`). (Artifact keys must identify IMMUTABLE inputs; this
    * makes "same path, new data" a different key rather than a silent
    * wrong answer.)
    */
  def stamp(s: SparkSession, sfDir: String, name: String): String =
    FileEvidence.version(dataFiles(s, s"$sfDir/$name.parquet").toSeq)

  def region(s: SparkSession, d: String, scan: Scan = Scan.Stock): DataFrame =
    table(s, d, "region", scan)
  def nation(s: SparkSession, d: String, scan: Scan = Scan.Stock): DataFrame =
    table(s, d, "nation", scan)
  // primary keys carry measured-uniqueness evidence (ndv == rowcount on
  // the actual file) so rank-join collapses fire on customer/supplier/
  // part self-joins exactly as they do on orders — evidence breadth,
  // one artifact-cached measurement per (file version, column)
  def customer(s: SparkSession, d: String, scan: Scan = Scan.Stock): DataFrame =
    load(s, d, "customer", scan, unique = Seq(Seq("c_custkey")))
  def supplier(s: SparkSession, d: String, scan: Scan = Scan.Stock): DataFrame =
    load(s, d, "supplier", scan, unique = Seq(Seq("s_suppkey")))
  def part(s: SparkSession, d: String, scan: Scan = Scan.Stock): DataFrame =
    load(s, d, "part", scan, unique = Seq(Seq("p_partkey")))
  // o_custkey is the key real top-n / argmax spellings partition by
  // (x140/x142/x143); its measured count is HIGH at every fixture SF, so
  // it is refusal evidence — the keyed-window family's lower-bound
  // reasoning (ndv(k1..kn) >= max ndv(ki)) keeps Spark's hash-clustered
  // Window for composites like (o_custkey, month) instead of wagering on
  // the zero-exchange heal (VERDICT r14 #1). o_orderkey is the primary
  // key the rank-subquery JOIN spelling pairs on (x145): measured-unique
  // evidence lets RankJoinRule collapse the self-join to one windowed scan.
  def orders(s: SparkSession, d: String, scan: Scan = Scan.Stock): DataFrame =
    load(s, d, "orders", scan, ndv = Seq("o_custkey"),
      unique = Seq(Seq("o_orderkey")))
  // composite-key evidence (VERDICT r15 #1): lineitem's only candidate
  // keys are composite, so both are MEASURED — the evidence holds iff the
  // data proves joint uniqueness. In the driver fixtures (l_orderkey,
  // l_linenumber) is NOT unique (measured: 45,832 distinct pairs over
  // 60,000 rows at sf0.01), so rank self-joins pairing it alone correctly
  // refuse; the 4-column set is unique at sf ≥ 0.01.
  def lineitem(s: SparkSession, d: String, scan: Scan = Scan.Stock): DataFrame =
    load(s, d, "lineitem", scan, ndv = Seq("l_suppkey"),
      unique = Seq(Seq("l_orderkey", "l_linenumber"),
        Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")))

  /** Normalize `events.ts` to TimestampType whatever the fixture vintage
    * wrote: older driver runs produced parquet TIMESTAMP(NANOS), which
    * Spark's reader rejects unless `spark.sql.legacy.parquet.nanosAsLong
    * =true` (set by [[graft.GraftSession]]) maps it to LongType nanos —
    * truncate to micros; newer runs write naive micros (`timestamp[us]`,
    * no UTC adjustment), which Spark reads as TIMESTAMP_NTZ — cast to
    * TimestampType, a wall-clock-preserving no-op under our fixed UTC
    * session timezone. Either way the values match how DuckDB (a naive-
    * micros engine) reads the same file.
    */
  def events(s: SparkSession, d: String, scan: Scan = Scan.Stock): DataFrame = {
    // evidence breadth (r16): event_id is the event log's primary key —
    // measured on the file, so rank self-joins on the events table
    // ("each user's top-k events by value" written the x145 way)
    // collapse exactly as on orders/documents. The (user_id, ts)
    // composite is measured too (true of the file) but only reaches
    // RAW scans: this loader rewrites ts into a computed column below,
    // and computed columns rightly carry no uniqueness proof.
    val raw = load(s, d, "events", scan, ndv = Seq("user_id"),
      unique = Seq(Seq("event_id"), Seq("user_id", "ts")))
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  // doc_id uniqueness powers rank-join collapses on the corpus table
  // ("top-n docs per lang by score" written as a self-join)
  def documents(s: SparkSession, d: String, scan: Scan = Scan.Stock): DataFrame =
    load(s, d, "documents", scan, unique = Seq(Seq("doc_id")))
  def embeddings(s: SparkSession, d: String, scan: Scan = Scan.Stock): DataFrame =
    table(s, d, "embeddings", scan)
}
