package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.Using

/**
 * Iceberg-style snapshot/manifest layer over partitioned parquet — the
 * resumability contract of the north_rule ("resumable from checkpoint with
 * per-partition lineage"). No Iceberg jars ship offline (SURVEY.md §7), so
 * snapshots are JSON manifests listing completed partition values; a real
 * catalog can be dropped in behind the same three calls.
 *
 * Layout:
 *   <root>/data/<part>=<value>/...parquet     (normal partitioned write)
 *   <root>/_snapshots/snapshot-<n>.json       (completed partition values)
 *   <root>/_lineage/<stage>-<n>.json          (per-partition metrics rows)
 *
 * Resume = anti-join of the input's partition values against the union of
 * completed values — a stage restarted after failure only processes the
 * partitions absent from the latest snapshot.
 */
object TableIO {

  final case class Snapshot(id: Int, completed: Seq[String])

  private def snapDir(root: String) = Paths.get(root, "_snapshots")

  def listSnapshots(root: String): Seq[Snapshot] = {
    val d = snapDir(root)
    if (!Files.isDirectory(d)) return Nil
    Using.resource(Files.list(d))(_.iterator().asScala
      .filter(_.getFileName.toString.matches("snapshot-\\d+\\.json"))
      .toSeq).sortBy(_.getFileName.toString)
      .map { p =>
        val id = p.getFileName.toString.stripPrefix("snapshot-").stripSuffix(".json").toInt
        val vals = json.readTree(p.toFile).get("completed").elements().asScala.map(_.asText).toSeq
        Snapshot(id, vals)
      }
  }

  def completedPartitions(root: String): Set[String] =
    listSnapshots(root).flatMap(_.completed).toSet

  /** Write one partition-complete snapshot (atomic rename). */
  def commitSnapshot(root: String, completed: Seq[String]): Int = {
    val d = snapDir(root)
    Files.createDirectories(d)
    val next = listSnapshots(root).map(_.id).maxOption.getOrElse(-1) + 1
    val all = (completedPartitions(root) ++ completed).toSeq.sorted
    val tmp = d.resolve(s".snapshot-$next.json.tmp")
    Files.write(tmp, s"""{"snapshot": $next, "completed": ${all.map(jsonString).mkString("[", ",", "]")}}"""
      .getBytes("UTF-8"))
    Files.move(tmp, d.resolve(s"snapshot-$next.json"), StandardCopyOption.ATOMIC_MOVE)
    next
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** `s` as a JSON string literal: quotes, backslashes and control
    * characters escaped, so any stage name, detail or partition value
    * reads back intact. */
  private[graft] def jsonString(s: String): String = json.writeValueAsString(s)

  /**
   * Resumable partitioned write of `df` by column `partCol`: skips
   * partition values already committed, writes the rest in one pass in the
   * `<partCol>=<value>` directory layout, then commits a new snapshot.
   * Returns the partition values written this run, sorted.
   *
   * There is no pre-scan for the input's partition values, so `df` is
   * computed once. Before the write, every `<partCol>=` directory whose
   * value no snapshot covers is deleted: the parquet append and the
   * snapshot commit are two steps, so such files are by definition
   * leftovers of a failed attempt, and a partition is either fully
   * committed or fully rewritten, never duplicated. After the write, the
   * uncommitted directories are exactly the ones this write created; their
   * unescaped values are what gets committed. `read(spark, root, partCol)`
   * additionally filters to committed partition values, so readers never
   * see a half-written partition.
   *
   * A null (or, as Spark writes it, empty-string) partition value lands in
   * Spark's default-partition directory, which no value can name: the call
   * then deletes what it wrote, commits nothing and throws.
   */
  def writeResumable(df: DataFrame, root: String, partCol: String): Seq[String] = {
    val done = completedPartitions(root)
    uncommittedDirs(root, partCol, done).foreach { case (dir, _) => deleteRecursively(dir) }
    // nulls stay in, so that their default-partition directory fails below
    val pending = if (done.isEmpty) df
      else df.filter(col(partCol).isNull || !col(partCol).isInCollection(done))
    pending.write.mode("append").partitionBy(partCol).parquet(s"$root/data")
    val created = uncommittedDirs(root, partCol, done)
    if (created.exists(_._2 == ExternalCatalogUtils.DEFAULT_PARTITION_NAME)) {
      created.foreach { case (dir, _) => deleteRecursively(dir) }
      throw new IllegalArgumentException(
        s"writeResumable: null or empty '$partCol' values under $root; nothing committed")
    }
    val written = created.map(_._2).sorted
    if (written.nonEmpty) commitSnapshot(root, written)
    written
  }

  /** The `<partCol>=<value>` directories under `root/data` whose unescaped
    * value is not in `done`, with that value. */
  private def uncommittedDirs(root: String, partCol: String,
                              done: Set[String]): Seq[(java.nio.file.Path, String)] = {
    val data = Paths.get(root, "data")
    if (!Files.isDirectory(data)) return Nil
    val prefix = s"$partCol="
    Using.resource(Files.list(data))(_.iterator().asScala.toList)
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith(prefix))
      .map(p => p -> ExternalCatalogUtils.unescapePathName(p.getFileName.toString.stripPrefix(prefix)))
      .filterNot { case (_, v) => done(v) }
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (Files.exists(p)) {
      Using.resource(Files.walk(p))(_.iterator().asScala.toSeq)
        .reverse.foreach(Files.delete)
    }
  }

  /** Persist lineage rows (from the stage accumulators) alongside the data. */
  def writeLineage(root: String, stage: String, rows: Seq[LineageRow]): Unit = {
    val d = Paths.get(root, "_lineage")
    Files.createDirectories(d)
    val n = Using.resource(Files.list(d))(_.iterator().asScala.count(_ => true))
    val body = rows.map { r =>
      s"""{"stage":${jsonString(r.stage)},"partition":${r.partitionId},"rowsIn":${r.rowsIn},""" +
      s""""rowsOut":${r.rowsOut},"wallMs":${r.wallMs},"detail":${jsonString(r.detail)}}"""
    }.mkString("[", ",", "]")
    Files.write(d.resolve(s"$stage-$n.json"), body.getBytes("UTF-8"))
  }

  /** Read back the data written by writeResumable. */
  def read(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/data")

  /** Snapshot-consistent read: only partitions recorded in a committed
    * snapshot are visible (partition pruning keeps this a metadata filter —
    * uncommitted leftover directories are never scanned). */
  def read(spark: SparkSession, root: String, partCol: String): DataFrame = {
    val done = completedPartitions(root).toSeq.sorted
    spark.read.parquet(s"$root/data").filter(col(partCol).isInCollection(done))
  }

  /** TIME TRAVEL (the Iceberg `VERSION AS OF` analog): read the table as of
    * snapshot `snapshotId` — only partitions that snapshot had committed are
    * visible. Snapshots are cumulative, so this is one metadata filter.
    * Kept without a main caller: snapshot reads are the Iceberg semantics
    * this layer stands in for. */
  def readAt(spark: SparkSession, root: String, partCol: String, snapshotId: Int): DataFrame = {
    val snap = listSnapshots(root).find(_.id == snapshotId)
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot $snapshotId under $root (have ${listSnapshots(root).map(_.id)})"))
    spark.read.parquet(s"$root/data")
      .filter(col(partCol).isInCollection(snap.completed.sorted))
  }

  /**
   * Bucketed + sorted catalog table (K6's bucketing contract): downstream
   * equi-joins on `bucketCol` between tables bucketed the same way need no
   * shuffle at all — Catalyst sees the hash-partitioned layout and plans a
   * SortMergeJoin without Exchange (plan-tested in PlanSpec). This is the
   * parquet stand-in for an Iceberg bucket transform. Kept without a main
   * caller: triples bucketed by canonical-entity hash are this layout.
   */
  def writeBucketed(df: DataFrame, tableName: String, buckets: Int,
                    bucketCol: String, sortCol: String): Unit = {
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCol)
      .sortBy(sortCol)
      .format("parquet")
      .saveAsTable(tableName)
  }
}
