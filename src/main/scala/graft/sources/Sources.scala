package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink surface: the text/CSV/JSON/parquet formats a Hadoop-era
  * analytics stack ingests, plus the layout-aware writers (partitioned
  * and bucketed parquet) that make 100 TB scans cheap.
  *
  * Readers always take an explicit schema — at scale, schema inference
  * is a full extra pass over the data and non-deterministic under
  * sampling; an explicit StructType is one metadata read.
  */
object Sources {

  /** CSV with explicit schema, header, and malformed-row tolerance
    * (PERMISSIVE keeps bad rows as nulls rather than failing the job). */
  def csv(s: SparkSession, path: String, schema: StructType,
          header: Boolean = true, delimiter: String = ","): DataFrame =
    s.read
      .schema(schema)
      .option("header", header.toString)
      .option("delimiter", delimiter)
      .option("mode", "PERMISSIVE")
      .csv(path)

  /** JSON-lines with explicit schema (one object per line — splittable,
    * unlike multiline JSON). */
  def jsonLines(s: SparkSession, path: String, schema: StructType): DataFrame =
    s.read.schema(schema).json(path)

  /** Raw text lines (one `value` column). */
  def text(s: SparkSession, path: String): DataFrame = s.read.text(path)

  /** RegexSerDe-style reader (the Hive log-parsing surface): each line
    * is parsed with a capture-group regex into named string columns;
    * non-matching lines yield empty strings, as permissive as the
    * SerDe. A narrow map over a splittable text scan — linear at any
    * log size. Cast/convert downstream as needed. */
  def regexText(s: SparkSession, path: String, pattern: String,
                cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, regexp_extract}
    s.read.text(path).select(cols.zipWithIndex.map { case (c, i) =>
      regexp_extract(col("value"), pattern, i + 1).as(c)
    }: _*)
  }

  def parquet(s: SparkSession, path: String): DataFrame = s.read.parquet(path)

  /** Parquet read that skips corrupt files instead of failing the job —
    * at 100 TB a handful of truncated files from a killed writer is
    * routine, and one bad file must not kill a million-task scan. Use
    * for ingest of externally-produced data; keep the strict default
    * for the engine's own tables (where corruption means a real bug). */
  def parquetLenient(s: SparkSession, path: String): DataFrame =
    s.read.option("ignoreCorruptFiles", "true").parquet(path)

  /** ORC — the other columnar format of the Hadoop/Hive era; same
    * pushdown/pruning behavior as parquet under Catalyst. */
  def orc(s: SparkSession, path: String): DataFrame = s.read.orc(path)

  def writeOrc(df: DataFrame, path: String,
               mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).orc(path)

  /** Small-file compaction: rewrite a parquet dataset into files of
    * roughly `targetFileMB` each. Thousands of tiny files (the residue
    * of fine-grained streaming/ingest batches) dominate 100 TB scan
    * time through open/footer overhead and task scheduling; compaction
    * is the periodic maintenance job that fixes it. Uses coalesce when
    * shrinking (no shuffle) and repartition when growing. */
  def compact(s: SparkSession, inPath: String, outPath: String,
              targetFileMB: Int = 256): Unit = {
    val df = s.read.parquet(inPath)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val target = math.max(
      (bytes / (targetFileMB.toLong << 20)).toLong, 1L).toInt
    // file count from the scan's listing — df.rdd.getNumPartitions
    // would instantiate the whole RDD lineage just to read a number.
    // inputFiles is always non-empty for this path-backed scan; the
    // getNumPartitions fallback covers exotic sources that report no
    // files (so they don't silently read as "1 file" and always take
    // the full-shuffle repartition branch)
    val files = df.inputFiles.length
    val current = math.max(
      if (files > 0) files else df.rdd.getNumPartitions, 1)
    val out = if (target < current) df.coalesce(target)
              else if (target > current) df.repartition(target)
              else df
    out.write.mode(SaveMode.Overwrite).parquet(outPath)
  }

  /** Hive-style partitioned parquet: directory per partition value, so
    * partition-pruned queries touch only matching directories. Keep
    * partition columns low-cardinality (date, region — never a key). */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
                       mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)

  /** INSERT OVERWRITE by partition (Hive dynamic-partition semantics):
    * replaces ONLY the partitions present in `df`, leaving every other
    * partition untouched — the batch backfill/upsert primitive (fix
    * yesterday's date partition without rewriting the 100 TB table).
    * The mode is scoped to this single write via the DataFrameWriter
    * option, never a session-conf mutation. */
  def overwritePartitions(df: DataFrame, path: String,
                          partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Keyed MERGE (upsert) into a partitioned parquet dataset — the
    * Hive-ACID-MERGE-shaped batch primitive, built from primitives that
    * scale: rows in `updates` replace target rows with the same key,
    * new keys are inserted. Only the partitions TOUCHED by `updates`
    * are read back and rewritten (dynamic partition pruning restricts
    * the scan; dynamic overwrite restricts the write), so merging a
    * day's corrections into a 100 TB table costs one partition's IO,
    * not the table's.
    *
    * Durability: the merged rows are STAGED to a durable underscore
    * directory (invisible to readers) before the overwrite — never
    * held only as lineage-truncated executor blocks, so a lost
    * executor mid-write cannot lose the sole copy of the touched
    * partitions; a crash before the overwrite leaves the table intact
    * plus a reclaimable staging dir.
    * Assumes a key's partition values never change between versions
    * (the standard partition-scoped-merge contract — a moved key would
    * leave its old row in the untouched partition; use [[mergeRows]]
    * when keys can move). */
  def mergeByKey(s: SparkSession, path: String, updates: DataFrame,
                 key: String, partitionCols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.broadcast
    val target = s.read.parquet(path)
    val touched = updates.select(partitionCols.map(updates.col): _*).distinct()
    val affected = target.join(broadcast(touched), partitionCols, "left_semi")
    val kept = affected.join(updates.select(key), Seq(key), "left_anti")
    val merged = kept.unionByName(updates.select(target.columns.map(updates.col): _*))
    val staging = new org.apache.hadoop.fs.Path(
      path, s"_staging_${java.util.UUID.randomUUID}")
    val fs = staging.getFileSystem(s.sessionState.newHadoopConf())
    try {
      merged.write.mode(SaveMode.Overwrite).parquet(staging.toString)
      overwritePartitions(s.read.parquet(staging.toString), path, partitionCols)
    } finally fs.delete(staging, true)
  }

  /** Row-level MERGE with FILE-level copy-on-write — the Delta/Iceberg
    * -shaped upsert, lifting [[mergeByKey]]'s keys-never-move contract:
    * an update may carry a NEW partition value for an existing key and
    * the old row still disappears, because affected files are found by
    * KEY-RANGE, not by partition.
    *
    * Shape: (1) per-file [min,max] of `key` from parquet FOOTERS only
    * (no data pages; a production table keeps these in a manifest —
    * this is the on-the-fly equivalent); (2) a file is touched iff some
    * update key falls inside its range — on range-clustered layouts
    * (e.g. written via repartitionByRange) that's a handful of files
    * out of a 100 TB table; (3) touched files are read back (basePath
    * recovers partition columns), anti-joined on key, unioned with the
    * updates, and STAGED to a durable underscore dir inside the table
    * (invisible to readers); (4) staged files move into place, then the
    * replaced files are deleted. The move-then-delete window can expose
    * duplicate rows to a concurrent reader — full snapshot isolation
    * needs a manifest commit (Delta/Iceberg), which is exactly what
    * this primitive slots under; a crash never loses committed data
    * (old files are deleted only after the staged copies are complete
    * and in place).
    *
    * Crash end-state: once the staged copy is complete, a durable
    * `_merge_pending_*` marker records the staging dir AND the
    * files-to-delete list (atomically, via temp-name + rename). A
    * crash before the marker leaves the table untouched (the orphan
    * staging dir is swept by recovery); a crash after it is ROLLED
    * FORWARD by the next [[mergeRows]] call (or [[recoverMerge]]
    * directly): the move is finished from staging, then the replaced
    * files are dropped. The only reader-visible anomaly is duplicate
    * rows for touched keys in the move-to-delete window, and it is
    * always mechanically recoverable, never permanent — committed data
    * is never lost. Concurrency is NOT supported: two
    * concurrent mergeRows on the same table can both rewrite the same
    * files and lose one side's update — serialize merges per table
    * (the manifest-commit layer this slots under is what provides
    * optimistic concurrency).
    *
    * `key` must be a data column (not a partition column) of integer
    * or string type. */
  def mergeRows(s: SparkSession, path: String, updates: DataFrame,
                key: String, partitionCols: Seq[String] = Nil): Unit = {
    import org.apache.hadoop.fs.Path
    require(!partitionCols.contains(key),
      s"mergeRows: key '$key' cannot be a partition column")
    val conf = s.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    recoverMerge(fs, root) // finish any crashed merge's delete step first
    val ranges = fileKeyRanges(fs, root, key)
    val touched = touchedFiles(s, ranges, updates, key)
    val targetCols = s.read.parquet(path).columns
    val merged = {
      if (touched.isEmpty) updates.select(targetCols.map(updates.col): _*)
      else {
        val oldData = s.read.option("basePath", path).parquet(touched: _*)
        oldData.join(updates.select(key).distinct(), Seq(key), "left_anti")
          .unionByName(updates.select(targetCols.map(updates.col): _*))
      }
    }
    val staging = new Path(root, s"_staging_${java.util.UUID.randomUUID}")
    try {
      // compaction-neutral: stage about as many files as were replaced,
      // not one per shuffle partition of the anti-join
      val shaped = merged.coalesce(math.max(touched.size, 1))
      val w = shaped.write.mode(SaveMode.Overwrite)
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(staging.toString)
      // Durable roll-forward marker, written only once the staged copy
      // is COMPLETE: line 1 names the staging dir, then the
      // files-to-delete list, then an END terminator. recoverMerge can
      // therefore finish the whole merge (move staged files into
      // place, then drop the replaced ones) from any crash point after
      // this write; a crash before it leaves only an orphan staging
      // dir (swept by recovery) and an untouched table. The marker is
      // staged under a dot-name and renamed into place — rename is
      // atomic on HDFS, so a torn/partial delete list is never visible
      // under the _merge_pending_ prefix.
      val markerName = s"_merge_pending_${java.util.UUID.randomUUID}"
      val marker = new Path(root, markerName)
      val markerTmp = new Path(root, s".$markerName.tmp")
      val out = fs.create(markerTmp, false)
      try out.write((staging.getName +: touched :+ MarkerEnd)
        .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      require(fs.rename(markerTmp, marker),
        s"mergeRows: failed to publish merge marker $marker")
      moveDataFiles(fs, staging, root) // staged copies in place…
      touched.foreach(f => fs.delete(new Path(f), false)) // …then drop old
      fs.delete(marker, false) // merge fully committed
    } finally fs.delete(staging, true)
  }

  /** Terminator line of a `_merge_pending_*` marker; a marker without
    * it is torn and must not be acted on. */
  private val MarkerEnd = "#END"

  /** Rolls FORWARD any [[mergeRows]] that crashed after publishing its
    * marker: finishes the staged→table move (idempotent — already-moved
    * files are gone from staging), then deletes whichever replaced
    * files still exist, then drops the marker. A torn marker (missing
    * terminator — impossible under atomic rename, defensive anyway)
    * means the move never started: drop it and leave the table as-is.
    * Finally sweeps orphan `_staging_*` dirs from crashes that never
    * reached the marker write. Idempotent; called automatically at the
    * start of every mergeRows. */
  def recoverMerge(fs: org.apache.hadoop.fs.FileSystem,
                   root: org.apache.hadoop.fs.Path): Unit = {
    import org.apache.hadoop.fs.Path
    if (!fs.exists(root)) return
    val markers = fs.listStatus(root).filter(st =>
      st.isFile && st.getPath.getName.startsWith("_merge_pending_"))
    markers.foreach { st =>
      val body = {
        val in = fs.open(st.getPath)
        try new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      }
      val lines = body.split('\n').map(_.trim).filter(_.nonEmpty)
      if (lines.length >= 2 && lines.last == MarkerEnd) {
        val staging = new Path(root, lines.head)
        if (fs.exists(staging)) moveDataFiles(fs, staging, root)
        lines.slice(1, lines.length - 1).foreach { f =>
          val p = new Path(f)
          if (fs.exists(p)) fs.delete(p, false)
        }
        fs.delete(staging, true)
      }
      fs.delete(st.getPath, false)
    }
    // markers processed above own their staging dirs; anything left
    // with the prefix is an orphan from a pre-marker crash (merges are
    // serialized per table, so no live merge can own it)
    fs.listStatus(root).foreach { st =>
      if (st.isDirectory && st.getPath.getName.startsWith("_staging_"))
        fs.delete(st.getPath, true)
    }
  }

  /** Per-file [min, max] of `key`, read from parquet footers only.
    * Files without stats for the column report None (always touched —
    * conservative). Driver-side loop: one footer read per file, no
    * data pages; a production deployment amortizes this into a table
    * manifest or distributes the footer reads. */
  private def fileKeyRanges(fs: org.apache.hadoop.fs.FileSystem,
                            root: org.apache.hadoop.fs.Path, key: String)
      : Seq[(String, Option[(Any, Any)])] =
    fileRangesOf(fs, listDataFiles(fs, root), key)

  /** Recursively lists the data files of a table dir, skipping
    * underscore/dot names and anything under a staging/metadata dir
    * (URI-normalized so the scheme prefix can't defeat the check). */
  private[sources] def listDataFiles(fs: org.apache.hadoop.fs.FileSystem,
                                     root: org.apache.hadoop.fs.Path)
      : Seq[org.apache.hadoop.fs.Path] = {
    val files = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.Path]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      val rel = f.getPath.toUri.getPath.stripPrefix(root.toUri.getPath)
      if (f.isFile && name.endsWith(".parquet") &&
          !name.startsWith("_") && !name.startsWith(".") &&
          !rel.split('/').exists(seg => seg.startsWith("_") || seg.startsWith(".")))
        files += f.getPath
    }
    files.toSeq
  }

  /** Per-file [min, max] of `key` for an explicit file list, read from
    * parquet FOOTERS only (no data pages). */
  private[sources] def fileRangesOf(fs: org.apache.hadoop.fs.FileSystem,
                                    files: Seq[org.apache.hadoop.fs.Path],
                                    key: String)
      : Seq[(String, Option[(Any, Any)])] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    files.map { p =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(p, fs.getConf))
      try {
        val blocks = reader.getFooter.getBlocks.asScala
        val colStats = blocks.flatMap(_.getColumns.asScala
          .filter(_.getPath.toDotString == key).map(_.getStatistics))
        val range =
          if (colStats.isEmpty || colStats.exists(st =>
              st == null || !st.hasNonNullValue)) None
          else {
            val mins = colStats.map(_.genericGetMin)
            val maxs = colStats.map(_.genericGetMax)
            Some((mins.minBy(statKeyOrd)(statOrdering),
                  maxs.maxBy(statKeyOrd)(statOrdering)))
          }
        (p.toString, range)
      } finally reader.close()
    }
  }

  /** Orderable projection of a parquet footer stat value (ints widen to
    * long; Binary decodes as UTF-8). Ordering of the string component
    * MUST be unsigned UTF-8 BYTE-lexicographic everywhere it is
    * compared: parquet UTF8 stats are byte-ordered, and Spark's
    * UTF8String comparison (used by the join in [[touchedFiles]]) is
    * byte-ordered too — but Java's String.compareTo is UTF-16
    * code-unit order, which DISAGREES for non-BMP characters
    * (surrogates sort below U+E000 in UTF-16, above in UTF-8). Using
    * it would pick the wrong min/max across row groups and could prune
    * a file that actually contains an update key, silently leaving a
    * stale duplicate row after merge. [[statOrdering]] compares the
    * string component as UTF-8 bytes. */
  private def statKeyOrd(v: Any): (Long, String) = v match {
    case n: java.lang.Number => (n.longValue(), "")
    case b: org.apache.parquet.io.api.Binary => (0L, b.toStringUsingUTF8)
    case other => (0L, other.toString)
  }

  /** Unsigned UTF-8 byte-lexicographic ordering for stat keys (long
    * component first) — matches both parquet stat ordering and Spark
    * UTF8String comparison, for ALL of Unicode, not just ASCII/BMP. */
  private val statOrdering: Ordering[(Long, String)] =
    new Ordering[(Long, String)] {
      def compare(a: (Long, String), b: (Long, String)): Int = {
        val c = java.lang.Long.compare(a._1, b._1)
        if (c != 0) return c
        val x = a._2.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val y = b._2.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        var i = 0
        val n = math.min(x.length, y.length)
        while (i < n) {
          val d = (x(i) & 0xff) - (y(i) & 0xff)
          if (d != 0) return d
          i += 1
        }
        x.length - y.length
      }
    }

  /** Files whose [min,max] key range contains at least one update key
    * (distributed range probe against the broadcast range list). */
  private[sources] def touchedFiles(
      s: SparkSession, ranges: Seq[(String, Option[(Any, Any)])],
      updates: DataFrame, key: String): Seq[String] = {
    import org.apache.spark.sql.functions.{broadcast, col}
    import s.implicits._
    if (ranges.isEmpty) return Nil
    val statless = ranges.collect { case (f, None) => f }
    val statted = ranges.collect { case (f, Some((mn, mx))) =>
      (f, statKeyOrd(mn), statKeyOrd(mx)) }
    val hit =
      if (statted.isEmpty) Nil
      else {
        val rangeDf = statted.map { case (f, mn, mx) =>
          (f, mn._1, mn._2, mx._1, mx._2) }
          .toDF("file", "mn_n", "mn_s", "mx_n", "mx_s")
        val keys = updates.select(col(key).as("k")).distinct()
        val kOrd = updates.schema(key).dataType match {
          case org.apache.spark.sql.types.StringType =>
            keys.select(org.apache.spark.sql.functions.lit(0L).as("k_n"),
              col("k").as("k_s"))
          case _ => keys.select(col("k").cast("long").as("k_n"),
              org.apache.spark.sql.functions.lit("").as("k_s"))
        }
        kOrd.join(broadcast(rangeDf),
            (col("k_n") > col("mn_n") ||
              (col("k_n") === col("mn_n") && col("k_s") >= col("mn_s"))) &&
            (col("k_n") < col("mx_n") ||
              (col("k_n") === col("mx_n") && col("k_s") <= col("mx_s"))))
          .select($"file").distinct().as[String].collect().toSeq
      }
    (hit ++ statless).distinct
  }

  /** Files whose footer [min,max] key range INTERSECTS the inclusive
    * [lower, upper] bound — the read-side pruning primitive (driver-side
    * filter over already-harvested ranges; no IO). Files without stats
    * are conservatively kept. `null` bounds are open (−∞ / +∞). */
  private[sources] def filesInRange(ranges: Seq[(String, Option[(Any, Any)])],
                                    lower: Any, upper: Any): Seq[String] = {
    val lo = Option(lower).map(statKeyOrd)
    val hi = Option(upper).map(statKeyOrd)
    ranges.collect {
      case (f, None) => f
      case (f, Some((mn, mx)))
          if lo.forall(l => statOrdering.gteq(statKeyOrd(mx), l)) &&
             hi.forall(h => statOrdering.lteq(statKeyOrd(mn), h)) => f
    }
  }

  /** Move every data file under `dir` to the same relative location
    * under `destRoot` (staged part- names are unique, so no clash). */
  private def moveDataFiles(fs: org.apache.hadoop.fs.FileSystem,
                            dir: org.apache.hadoop.fs.Path,
                            destRoot: org.apache.hadoop.fs.Path): Unit = {
    fs.listStatus(dir).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory) {
        if (!name.startsWith("_") && !name.startsWith("."))
          moveDataFiles(fs, st.getPath,
            new org.apache.hadoop.fs.Path(destRoot, name))
      } else if (name.endsWith(".parquet") && !name.startsWith("_") &&
                 !name.startsWith(".")) {
        fs.mkdirs(destRoot)
        fs.rename(st.getPath, new org.apache.hadoop.fs.Path(destRoot, name))
      }
    }
  }

  /** Hadoop SequenceFile (the classic MR container format), read as a
    * (key, value) string DataFrame. Splittable via sync markers, so a
    * huge file still parallelizes per block. Note: the spark-avro
    * connector is not on this classpath, so Avro is intentionally not
    * exposed; SequenceFile covers the Hadoop-era container surface
    * through hadoop-client, which Spark always bundles. */
  def sequenceFile(s: SparkSession, path: String): DataFrame = {
    import s.implicits._
    s.sparkContext.sequenceFile[String, String](path).toDF("key", "value")
  }

  /** Writes a two-string-column DataFrame as a Text/Text SequenceFile. */
  def writeSequenceFile(df: DataFrame, path: String): Unit =
    df.rdd.map(r => (r.getString(0), r.getString(1)))
      .saveAsSequenceFile(path)

  /** Bucketed + sorted table: co-locates rows by join/agg key at write
    * time, so later equi-joins and groupBys on that key skip the
    * shuffle entirely (both sides bucketed → zero-exchange join). */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    nBuckets: Int, mode: SaveMode = SaveMode.Overwrite,
                    path: Option[String] = None): Unit = {
    val w = df.write.mode(mode)
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Compact a bucketed table back to ONE sorted file per bucket.
    *
    * Bucketed APPENDs keep the hash spec (Spark validates it, so probes
    * still skip the corpus-side exchange) but stack an extra file per
    * bucket per append, and the scan trusts the per-bucket SORT
    * metadata only while every selected bucket has at most one file —
    * so until compaction each merge-join probe re-sorts the store side.
    * This is the standard bucketed-table lifecycle step the standing
    * dedup stores document (probe → admit → append → … → compact).
    *
    * Shape: repartition by the bucket column with the bucket count —
    * the same murmur3-pmod hash the bucket spec uses, so each writer
    * task holds exactly its own bucket and emits one file — then
    * stage-and-swap: write the compacted copy as a stage table at a
    * sibling path (alternating `.c` suffix), then rotate catalog names
    * live → live_old, stage → live, drop live_old — every crash point
    * leaves a registered table over intact data (before the rotation:
    * the live table; between the two renames: live_old, recoverable by
    * renaming it back; after: the compacted live table). Superseded
    * files are deleted only after the rotation completes. (The rename
    * rotation is single-writer; a multi-writer deployment would route
    * it through [[ManifestTable]]'s CAS commit.) */
  def compactBucketed(s: SparkSession, table: String, bucketCol: String,
                      nBuckets: Int): Unit =
    rewriteBucketed(s, table, bucketCol, nBuckets, identity)

  /** [[compactBucketed]] at the table's OWN bucket count — the form
    * every maintenance caller should use now that ensure* sizes the
    * count adaptively (a hard-coded count that disagrees with the
    * catalog spec would fail the bucketed append validation). */
  def compactBucketed(s: SparkSession, table: String,
                      bucketCol: String): Unit =
    rewriteBucketed(s, table, bucketCol, bucketCountOf(s, table), identity)

  /** Bucket count of an existing bucketed table, from the catalog —
    * the single source of truth appends/compactions must agree with. */
  def bucketCountOf(s: SparkSession, table: String): Int = {
    import org.apache.spark.sql.functions.col
    s.sql(s"DESCRIBE TABLE EXTENDED $table")
      .filter(col("col_name") === "Num Buckets")
      .head.getString(1).trim.toInt
  }

  /** Roll back a crashed [[rewriteBucketed]] rename rotation: the only
    * window with no table registered under the live name is between
    * the two renames (live → _cold, _cstage → live) — a crash there
    * leaves `<table>_cold` holding the intact pre-rewrite data while
    * `tableExists(table)` is false, and a later ensure* would then
    * silently REBUILD the store from the corpus split at the original
    * path, discarding every batch appended since the initial build.
    * Renaming _cold back to the live name restores the pre-rewrite
    * store (the staged rewrite is a pure function of it — nothing is
    * lost by discarding the stage). Every ensure/append/rewrite store
    * entry point calls this first, so the silent-rebuild data-loss
    * path cannot trigger. A lingering _cold WITH a live table (crash
    * after the second rename, before the drop) is just garbage; the
    * next rewrite's DROP IF EXISTS clears it. */
  def recoverRotation(s: SparkSession, table: String): Unit = {
    val old = table + "_cold"
    if (!s.catalog.tableExists(table) && s.catalog.tableExists(old)) {
      s.sql(s"ALTER TABLE $old RENAME TO $table")
      s.catalog.refreshTable(table)
    }
  }

  /** The [[rewriteBucketed]] stage-and-rotate lifecycle for
    * PARTITIONED tables: compact a partitionBy(partCol) parquet table
    * back to ONE file per partition value (appends stack a file per
    * touched partition per batch; the directory layout — the index —
    * is unchanged, so partition pruning is identical before and
    * after, compaction only collapses the per-partition file count).
    * `repartition(col)` hash-places each partition value in exactly
    * one task, so the partitioned write emits exactly one file per
    * value; same crash-safety story as [[rewriteBucketed]] (every
    * crash point leaves a registered or [[recoverRotation]]-able
    * table over intact data). */
  def compactPartitioned(s: SparkSession, table: String,
                         partCol: String): Unit = {
    import org.apache.spark.sql.functions.col
    stageAndRotate(s, table) { (raw, stage, path) =>
      raw.repartition(col(partCol))
        .write.partitionBy(partCol).format("parquet")
        .option("path", path).saveAsTable(stage)
    }
  }

  /** [[compactBucketed]] with a content transform: rewrite a bucketed
    * table in place (stage-and-rotate, same crash-safety) as
    * `transform(raw files read)`, re-bucketed to one sorted file per
    * bucket. This is how maintenance ops that must REMOVE rows (e.g.
    * the graph store's degree re-prune) fit the append-only bucketed
    * lifecycle: appends stack rows, the periodic rewrite restores the
    * invariant. */
  def rewriteBucketed(s: SparkSession, table: String, bucketCol: String,
                      nBuckets: Int,
                      transform: DataFrame => DataFrame): Unit = {
    import org.apache.spark.sql.functions.col
    stageAndRotate(s, table) { (raw, stage, path) =>
      writeBucketed(transform(raw).repartition(nBuckets, col(bucketCol)),
        stage, bucketCol, nBuckets, path = Some(path))
    }
  }

  /** The stage-and-rotate steps [[rewriteBucketed]] and
    * [[compactPartitioned]] share: `write(raw, stage, path)` writes the
    * rewritten copy of the live files `raw` as table `stage` at the
    * sibling `path` (alternating `.c` suffix); the catalog names then
    * rotate live → `_cold`, stage → live, and `_cold` is dropped, and
    * only then are the superseded files deleted.
    *
    * `raw` reads the table's FILES, not the table: a bucketed-table
    * scan exposes its hash partitioning, which makes the planner drop
    * the repartition as redundant — and then auto-disable the bucketed
    * scan anyway (nothing above needs it), so the write lands
    * size-split across tasks and buckets stay multi-file. The plain
    * path read has no partitioning to satisfy anything, so the
    * repartition survives and each bucket lands in exactly one task →
    * exactly one file. */
  private def stageAndRotate(s: SparkSession, table: String)(
      write: (DataFrame, String, String) => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    recoverRotation(s, table)
    val loc = Stores.location(s, table)
    val newLoc =
      if (loc.endsWith(".c")) loc.stripSuffix(".c") else loc + ".c"
    // resolve the filesystem OF THE TABLE LOCATION, not the default
    // scheme — on deployments where store paths live off the default
    // filesystem, FileSystem.get(conf) would delete the wrong paths
    val fs = new Path(loc).getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new Path(newLoc), true)
    val stage = table + "_cstage"
    s.sql(s"DROP TABLE IF EXISTS $stage")
    write(s.read.parquet(loc), stage, newLoc)
    // rename rotation (external tables: renames move only catalog
    // entries, never files) — no crash window without a live table
    val old = table + "_cold"
    s.sql(s"DROP TABLE IF EXISTS $old")
    s.sql(s"ALTER TABLE $table RENAME TO $old")
    s.sql(s"ALTER TABLE $stage RENAME TO $table")
    s.sql(s"DROP TABLE $old")
    fs.delete(new Path(loc), true)
    s.catalog.refreshTable(table)
  }
}
