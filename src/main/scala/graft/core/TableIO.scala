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
    recoverCompactLeftovers(root)
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

  /**
   * Heal leftovers of a compact() interrupted inside its two-rename swap
   * window: a `.compact-<dir>.old` with the real dir ABSENT means the crash
   * hit between the renames — the original partition is restored; with the
   * real dir present the rewrite landed and the stale `.old` is deleted.
   * Orphan `.compact-*.tmp` dirs (crash mid-rewrite) are deleted. Called on
   * every read/write/compact entry point, so no reader path ever depends on
   * a partition stranded in a hidden dir.
   */
  private def recoverCompactLeftovers(root: String): Unit = {
    val data = Paths.get(root, "data")
    if (!Files.isDirectory(data)) return
    val leftovers = Using.resource(Files.list(data))(_.iterator().asScala.toList)
      .filter(_.getFileName.toString.startsWith(".compact-"))
    leftovers.foreach { p =>
      val name = p.getFileName.toString
      if (name.endsWith(".old")) {
        val real = data.resolve(name.stripPrefix(".compact-").stripSuffix(".old"))
        if (!Files.exists(real)) Files.move(p, real)
        else deleteRecursively(p)
      } else if (name.endsWith(".tmp")) deleteRecursively(p)
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
  def read(spark: SparkSession, root: String): DataFrame = {
    recoverCompactLeftovers(root)
    spark.read.parquet(s"$root/data")
  }

  /** Snapshot-consistent read: only partitions recorded in a committed
    * snapshot are visible (partition pruning keeps this a metadata filter —
    * uncommitted leftover directories are never scanned). */
  def read(spark: SparkSession, root: String, partCol: String): DataFrame = {
    recoverCompactLeftovers(root)
    val done = completedPartitions(root).toSeq.sorted
    spark.read.parquet(s"$root/data").filter(col(partCol).isInCollection(done))
  }

  /** TIME TRAVEL (the Iceberg `VERSION AS OF` analog): read the table as of
    * snapshot `snapshotId` — only partitions that snapshot had committed are
    * visible. Snapshots are cumulative, so this is one metadata filter. */
  def readAt(spark: SparkSession, root: String, partCol: String, snapshotId: Int): DataFrame = {
    recoverCompactLeftovers(root)
    val snap = listSnapshots(root).find(_.id == snapshotId)
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot $snapshotId under $root (have ${listSnapshots(root).map(_.id)})"))
    spark.read.parquet(s"$root/data")
      .filter(col(partCol).isInCollection(snap.completed.sorted))
  }

  /**
   * Small-file COMPACTION (the Iceberg rewrite_data_files analog) — the
   * 100 TB housekeeping a long-lived partitioned sink needs: every
   * committed partition whose file count exceeds `maxFilesPerPartition` is
   * rewritten to `targetFiles` files via a temp-dir + rename swap, then a
   * new snapshot is committed. Row content is untouched. Returns the
   * partition values rewritten.
   *
   * Atomicity: the swap is TWO renames (dir -> .old, tmp -> dir), so there
   * is a crash/concurrency window in which the partition directory is
   * briefly absent. A crash inside the window is healed on the next
   * read/write/compact call (`recoverCompactLeftovers` restores the .old
   * dir); a CONCURRENT reader listing root/data at that exact instant can
   * still observe the partition as missing — run compaction when no reader
   * races the same table (single-writer maintenance, the Iceberg
   * rewrite_data_files operational contract).
   */
  def compact(spark: SparkSession, root: String, partCol: String,
              maxFilesPerPartition: Int = 8, targetFiles: Int = 1): Seq[String] = {
    recoverCompactLeftovers(root)
    val done = completedPartitions(root).toSeq.sorted
    val rewritten = done.filter { v =>
      val dir = Paths.get(root, "data", s"$partCol=${ExternalCatalogUtils.escapePathName(v)}")
      Files.isDirectory(dir) && {
        val nFiles = Using.resource(Files.list(dir))(_.iterator().asScala
          .count(_.getFileName.toString.endsWith(".parquet")))
        nFiles > maxFilesPerPartition
      }
    }
    rewritten.foreach { v =>
      val dirName = s"$partCol=${ExternalCatalogUtils.escapePathName(v)}"
      val dir = Paths.get(root, "data", dirName)
      val tmp = Paths.get(root, "data", s".compact-$dirName.tmp")
      deleteRecursively(tmp)
      spark.read.parquet(dir.toString)
        .repartition(targetFiles)
        .write.mode("overwrite").parquet(tmp.toString)
      // swap: the old dir vanishes only after the rewrite fully landed
      val old = Paths.get(root, "data", s".compact-$dirName.old")
      deleteRecursively(old)
      Files.move(dir, old)
      Files.move(tmp, dir)
      deleteRecursively(old)
    }
    if (rewritten.nonEmpty) commitSnapshot(root, rewritten)
    rewritten
  }

  /**
   * SNAPSHOT EXPIRY (the Iceberg `expire_snapshots` analog — the
   * metadata-retention half of housekeeping, next to [[compact]]'s
   * data-file half): drop all but the most recent `keepLast` snapshot
   * manifests. Data files are untouched — snapshots here are CUMULATIVE
   * partition manifests, so the live read path and every surviving
   * snapshot still resolve; only TIME TRAVEL to an expired id dies, and
   * it dies LOUDLY ([[readAt]] already throws on unknown ids, listing
   * what remains). Snapshot numbering continues from the surviving
   * maximum, so a concurrent-free expire never collides with the next
   * commit. Single-writer maintenance window, the [[compact]] contract.
   *
   * @return the expired snapshot ids
   */
  def expireSnapshots(root: String, keepLast: Int = 3): Seq[Int] = {
    require(keepLast >= 1, "must keep at least the latest snapshot")
    val snaps = listSnapshots(root).sortBy(_.id)
    val expire = snaps.dropRight(keepLast)
    expire.foreach(s =>
      Files.deleteIfExists(snapDir(root).resolve(s"snapshot-${s.id}.json")))
    expire.map(_.id)
  }

  /**
   * Bucketed + sorted catalog table (K6's bucketing contract): downstream
   * equi-joins on `bucketCol` between tables bucketed the same way need no
   * shuffle at all — Catalyst sees the hash-partitioned layout and plans a
   * SortMergeJoin without Exchange (plan-tested in PlanSpec). This is the
   * parquet stand-in for an Iceberg bucket transform.
   */
  def writeBucketed(df: DataFrame, tableName: String, buckets: Int,
                    bucketCol: String, sortCol: String): Unit = {
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCol)
      .sortBy(sortCol)
      .format("parquet")
      .saveAsTable(tableName)
  }

  /**
   * Z-ORDER CLUSTERED write (the Delta/Iceberg `OPTIMIZE ZORDER BY`
   * analog): lay the table out along the Morton space-filling curve of
   * TWO integral columns so per-file min/max footers prune
   * MULTI-dimensional predicates — a single-column sort makes one
   * predicate file-prunable and leaves every file spanning the other
   * column's full range; the interleaved order keeps rows close in BOTH
   * dimensions close in file order (ClusterSpec measures it: a
   * one-dimension-selective box query intersects a fraction of the
   * z-ordered files vs ALL of the linearly-sorted ones).
   *
   * Each column maps to a bounded bucket index by exact integer
   * min/max normalization — `(x − min)·(buckets−1) div (max − min)` in
   * decimal(38,0) (overflow-proof for any Long range; constant columns
   * collapse to bucket 0) — then the codegen'd
   * [[graft.functions.ZOrder2]] interleaves the two indices and the
   * frame range-partitions + sorts on that key. At 100 TB this is the
   * compaction-time rewrite (one shuffle, the same cost class as
   * [[compact]]); production systems replace min/max normalization with
   * range-partition ids when the value distribution is heavily skewed —
   * same curve, different bucketing.
   */
  def clusterBy(df: DataFrame, colA: String, colB: String, outPath: String,
                nFiles: Int, buckets: Long = 1L << 16): Unit = {
    // buckets <= 2^31: two 31-bit indices interleave into a <= 62-bit
    // Morton key, so the sort key can never go negative (a 2^32 bucket
    // could set bit 63 and break curve monotonicity)
    require(nFiles >= 1 && buckets >= 2 && buckets <= (1L << 31),
      "need nFiles >= 1 and 2 <= buckets <= 2^31")
    val mm = df.agg(min(col(colA)).cast("long"), max(col(colA)).cast("long"),
      min(col(colB)).cast("long"), max(col(colB)).cast("long")).head()
    if (mm.isNullAt(0)) { // empty input: write the empty frame as-is
      df.write.mode("overwrite").parquet(outPath)
      return
    }
    def bucketOf(c: String, mn: Long, mx: Long) =
      if (mx == mn) lit(0L)
      // divisor in decimal SQL, not driver Long arithmetic: mx - mn
      // overflows Long when the column spans more than half the Long range
      // (e.g. min = -2, max = Long.MaxValue), which silently produced
      // garbage bucket ids — decimal(38,0) keeps the range exact
      else expr(s"CAST((CAST($c AS DECIMAL(38,0)) - $mn) * ${buckets - 1} " +
        s"AS DECIMAL(38,0)) div (CAST($mx AS DECIMAL(38,0)) - ($mn))")
    val z = graft.functions.GraftFunctions.zorder2(
      bucketOf(colA, mm.getLong(0), mm.getLong(1)),
      bucketOf(colB, mm.getLong(2), mm.getLong(3)))
    df.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(outPath)
  }
}
