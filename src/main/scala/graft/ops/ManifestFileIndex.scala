package graft.ops

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitionPath, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import VersionedPartitioned.Manifest

/**
 * The files of one manifest read as a Spark `FileIndex`, shaped like
 * Spark's `MetadataLogFileIndex`: the partition spec comes from the
 * manifest's partition dirs, typed by the snapshot's recorded `_schema`,
 * never from a discovery walk; the only I/O is one driver-side
 * `listStatus` per kept partition dir, the first time Spark asks for
 * files or sizes. One index covers one EVOLUTION GROUP — the snapshots
 * sharing a recorded schema and schema generation, normally the whole
 * table — so a read is one scan at any history depth. It holds the
 * table root and the resolved manifest. `narrowed` indexes
 * share their parent's listings; committed snapshot dirs are immutable,
 * which makes the deferred, shared listing safe.
 */
final class ManifestFileIndex private (
    spark: SparkSession,
    val root: HPath,
    val manifest: Manifest,
    schema: StructType,
    val gen: Int,
    val entries: Map[String, String],
    val keepFiles: Option[Set[String]],
    listing: ManifestFileIndex.Listing,
    private val scan: Int = 0)
  extends PartitioningAwareFileIndex(spark, Map.empty, None) {

  private val partField = schema.fields
    .find(_.name.equalsIgnoreCase(manifest.partitionCol))
    .getOrElse(throw new IllegalStateException(
      s"$root: recorded schema lacks partition column ${manifest.partitionCol}"))
    .copy(nullable = true)

  /** Kept partition dirs in name order, with their snapshot dirs. */
  private lazy val dirs: Seq[(String, HPath)] = entries.toSeq.sorted.map {
    case (dir, snap) => dir -> new HPath(new HPath(root, snap), dir)
  }

  private def dataSchema: StructType = StructType(schema.fields
    .filterNot(_.name.equalsIgnoreCase(partField.name)))

  override def partitionSchema: StructType = StructType(Seq(partField))

  /** The kept partition dirs, as a listing-based index reports them
    * (EXPLAIN's scan `Location` names exactly what is read). */
  override def rootPaths: Seq[HPath] = dirs.map(_._2)

  override def refresh(): Unit = ()

  private lazy val spec = {
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    PartitionSpec(partitionSchema, dirs.map { case (dir, path) =>
      val s = VersionedPartitioned.partitionValue(dir)
      // typed the way Spark types a user-schema partition column
      val value =
        if (s == ManifestFileIndex.NullPartition) null
        else if (partField.dataType == StringType) UTF8String.fromString(s)
        else Cast(Literal(s), partField.dataType, tz).eval()
      PartitionPath(InternalRow(value), path)
    })
  }

  override def partitionSpec(): PartitionSpec = spec

  override protected lazy val leafDirToChildrenFiles: Map[HPath, Array[FileStatus]] =
    dirs.map { case (dir, path) =>
      val files = listing(path)
      path -> keepFiles.fold(files)(keep =>
        files.filter(f => keep(s"${entries(dir)}/$dir/${f.getPath.getName}")))
    }.toMap

  override protected lazy val leafFiles: mutable.LinkedHashMap[HPath, FileStatus] =
    mutable.LinkedHashMap.from(dirs.flatMap(d =>
      leafDirToChildrenFiles(d._2).map(f => f.getPath -> f)))

  /** The kept partitions whose unescaped VALUE passes `keep`, and of
    * those, with `files`, only the listed `snap/dir/file` paths (a dir
    * none of them falls in drops out). Lists nothing. */
  def narrowed(keep: String => Boolean,
      files: Option[Set[String]] = None): ManifestFileIndex = {
    val fileDirs = files.map(_.map(f => f.substring(0, f.lastIndexOf('/'))))
    val kept = entries.filter { case (dir, snap) =>
      keep(VersionedPartitioned.partitionValue(dir)) &&
        fileDirs.forall(_.contains(s"$snap/$dir"))
    }
    new ManifestFileIndex(spark, root, manifest, schema, gen, kept,
      (keepFiles ++ files).reduceOption(_ intersect _), listing)
  }

  /** This index as scan `n` of a plan: unequal to every other scan
    * number over the same files, so plan rewrites keep two scans of one
    * read apart; scan 0 is the plain index. */
  def asScan(n: Int): ManifestFileIndex =
    new ManifestFileIndex(spark, root, manifest, schema, gen, entries,
      keepFiles, listing, n)

  /** Equal when reading the same files (like `InMemoryFileIndex`, whose
    * equality is its root paths), so Spark reuses exchanges and cached
    * data across separately built reads of one snapshot. */
  override def equals(o: Any): Boolean = o match {
    case ix: ManifestFileIndex => ix.scan == scan &&
      ix.keepFiles == keepFiles && ix.rootPaths == rootPaths
    case _ => false
  }

  override def hashCode: Int = (scan, keepFiles, rootPaths).hashCode

  /** This group as a frame: one `HadoopFsRelation` over this index. */
  def frame: DataFrame = spark.baseRelationToDataFrame(HadoopFsRelation(
    this, partitionSchema, dataSchema, None, new ParquetFileFormat,
    Map.empty)(spark))
}

object ManifestFileIndex {
  private val NullPartition = "__HIVE_DEFAULT_PARTITION__"

  /** A plan leaf scanning a manifest read: its relation and index. */
  object Scan {
    def unapply(l: LogicalRelation): Option[(HadoopFsRelation, ManifestFileIndex)] =
      l.relation match {
        case fs @ HadoopFsRelation(ix: ManifestFileIndex, _, _, _, _, _) =>
          Some((fs, ix))
        case _ => None
      }
  }

  /** Data files per partition dir, listed once per read and shared by
    * every index narrowed from it. */
  private[ops] final class Listing(fs: FileSystem) {
    private val dirs = new ConcurrentHashMap[HPath, Array[FileStatus]]
    def apply(dir: HPath): Array[FileStatus] =
      dirs.computeIfAbsent(dir, d => fs.listStatus(d).filter { s =>
        val n = s.getPath.getName
        s.isFile && !n.startsWith("_") && !n.startsWith(".")
      })
  }

  /** One index per evolution group of `m`'s entries, in the order of
    * each group's first snapshot name. Reads each referenced snapshot's
    * `_schema` (a dir without one, written before schemas were
    * recorded, has its schema inferred as a plain read would). */
  def groups(spark: SparkSession, root: String,
      m: Manifest): Seq[ManifestFileIndex] = {
    val (fs, rootPath) = Versioned.fsOf(spark, root)
    val qualified = fs.makeQualified(rootPath)
    val listing = new Listing(fs)
    val snaps = m.entries.groupBy(_._2).toSeq.sortBy(_._1).map {
      case (snap, parts) =>
        val base = new HPath(qualified, snap).toString
        val schema = Versioned.recordedSchema(spark, base).getOrElse(
          Versioned.readDir(spark, base,
            parts.keys.toSeq.sorted.map(p => s"$base/$p")).schema)
        (schema, m.snapGens.getOrElse(snap, 0)) -> parts
    }
    snaps.map(_._1).distinct.map { case key @ (schema, gen) =>
      new ManifestFileIndex(spark, qualified, m, schema, gen,
        snaps.filter(_._1 == key).flatMap(_._2).toMap, None, listing)
    }
  }
}
