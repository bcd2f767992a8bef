package graft.plans

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Measured column facts of file versions: the catalog's "crawl once,
  * query many" record for path reads, which carry no CatalogTable.
  *
  * One JVM-wide store. A fact is keyed by the scan's normalised root-path
  * set, its file version ([[version]]) and a column set; its value is a
  * measured distinct count or a measured uniqueness verdict. Only
  * measurement fills it: the [[graft.tables.Tables]] loaders (through
  * `ArtifactStore`, under `col_ndv`/`col_unique`) and
  * [[RankJoinRule.measureAndRegister]]. Only [[Lineage]]'s evidence
  * lookups read it ([[Lineage.leafNdv]], [[Lineage.uniqueSets]]), at the
  * leaf relation a column traces to, with that relation's own root paths
  * and file listing. So a fact never reaches a file rewritten in place (a new
  * version, with no facts yet) or a same-named column of another file,
  * and nothing is ever withdrawn. Building a DataFrame writes no session
  * conf for it; facts a user declares for a whole session stay in the
  * session confs ([[KeyedWindowRule.NdvHintsConf]],
  * [[RankJoinRule.UniqueHintsConf]]).
  */
object FileEvidence {
  /** One version of a file-backed table: its normalised root paths and
    * the [[version]] of the data files under them. */
  final case class FileVersion(paths: Set[String], version: String)

  private final case class Key(at: FileVersion, cols: Set[String])

  private val ndvs = new ConcurrentHashMap[Key, java.lang.Long]()
  private val uniques = new ConcurrentHashMap[Key, java.lang.Boolean]()
  /** Root-path sets holding any fact: the lookup a leaf passes before
    * its file version is built. */
  private val measured = ConcurrentHashMap.newKeySet[Set[String]]()

  /** One version of a table: every data file's name, length and
    * modification time. A file rewritten in place is a new version. */
  def version(files: Seq[FileStatus]): String =
    files.map(f => s"${f.getPath.getName}:${f.getLen}-${f.getModificationTime}")
      .sorted.mkString(";")

  private[graft] def putNdv(at: FileVersion, column: String, ndv: Long): Unit = {
    ndvs.put(Key(at, Set(column)), ndv)
    measured.add(at.paths)
  }

  /** Record whether `cols` is jointly unique in `at`, measured either way
    * (a non-unique verdict spares the loaders a re-measure). */
  private[graft] def putUnique(at: FileVersion, cols: Seq[String],
                               unique: Boolean): Unit = {
    uniques.put(Key(at, cols.toSet), unique)
    measured.add(at.paths)
  }

  private[graft] def ndvOf(at: FileVersion, column: String): Option[Long] =
    Option(ndvs.get(Key(at, Set(column)))).map(_.longValue)

  private[graft] def uniqueOf(at: FileVersion, cols: Seq[String]): Option[Boolean] =
    Option(uniques.get(Key(at, cols.toSet))).map(_.booleanValue)

  /** Whether any column set is measured unique anywhere — the rank-join
    * collapse's cheap exit. */
  private[plans] def anyUnique: Boolean = uniques.containsValue(java.lang.Boolean.TRUE)

  /** Measured ndv of `column` in the file version `leaf` scans. */
  private[plans] def ndv(leaf: LogicalPlan, column: String): Option[Long] =
    measuredVersion(leaf).flatMap(ndvOf(_, column))

  /** The column sets measured jointly unique in the file version `leaf`
    * scans. */
  private[plans] def uniqueSets(leaf: LogicalPlan): Seq[Set[String]] =
    measuredVersion(leaf).toSeq.flatMap { at =>
      uniques.asScala.collect { case (Key(`at`, cols), u) if u.booleanValue => cols }
    }

  /** The file version `leaf` scans, taken from the relation's own file
    * index — None for a non-file leaf and for root paths holding no fact,
    * which are ruled out before the version string is built. */
  private def measuredVersion(leaf: LogicalPlan): Option[FileVersion] =
    fsRelation(leaf).flatMap { fs =>
      val paths = pathsOf(fs)
      if (!measured.contains(paths)) None
      else Some(FileVersion(paths, filesVersion(fs)))
    }

  /** The file version `leaf` scans, or None for a non-file leaf. */
  private[plans] def versionOf(leaf: LogicalPlan): Option[FileVersion] =
    fsRelation(leaf).map(fs => FileVersion(pathsOf(fs), filesVersion(fs)))

  /** [[version]] of the files the relation's index lists — a cached
    * listing for the in-memory index a path read builds. */
  private def filesVersion(fs: HadoopFsRelation): String =
    version(fs.location.listFiles(Nil, Nil).flatMap(_.files.map(_.fileStatus)))

  private def fsRelation(leaf: LogicalPlan): Option[HadoopFsRelation] =
    leaf match {
      case r: LogicalRelation => r.relation match {
        case fs: HadoopFsRelation => Some(fs)
        case _ => None
      }
      case _ => None
    }

  private def pathsOf(fs: HadoopFsRelation): Set[String] =
    fs.location.rootPaths.map(p => normalizePath(p.toString)).toSet

  /** Canonical path form so a loader's path and a scan's root paths
    * compare equal: local paths (bare or `file:`) become scheme-less
    * absolute paths via Hadoop's Path normalization (`//`, trailing
    * `/`, `.` segments collapse); non-file URIs (`s3a://`, `hdfs://`…)
    * pass through Path normalization UNTOUCHED in scheme and authority
    * — never through java.io.File, which would mangle them into
    * cwd-relative strings (ADVICE r15). Idempotent. */
  def normalizePath(p: String): String = {
    try {
      val hp = new org.apache.hadoop.fs.Path(p)
      val uri = hp.toUri
      uri.getScheme match {
        case null =>
          new org.apache.hadoop.fs.Path(
            new java.io.File(p).getAbsolutePath).toUri.getPath
        case "file" => hp.toUri.getPath
        case _ => hp.toString
      }
    } catch { case NonFatal(_) => p }
  }
}
