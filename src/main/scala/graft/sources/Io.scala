package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink surface — the reference's extract/load phases
  * (airflow_dag_calidad_aire.py:119 csv, :256-265 csv+snappy parquet,
  * :323-348 chunked JDBC) re-expressed as Spark readers/writers.
  *
  * Chunking disappears: partitioned parquet writes are the distributed
  * equivalent of the reference's 10k-row chunks, and `partitionBy` gives
  * partition pruning on read — the thing that matters at 100 TB.
  */
object Io {

  def readCsv(spark: SparkSession, path: String, schema: Option[StructType] = None,
      header: Boolean = true): DataFrame = {
    val r = spark.read.option("header", header.toString)
    schema.fold(r.option("inferSchema", "true"))(r.schema).csv(path)
  }

  /** `mergeSchema` reconciles files written with evolving schemas (new
    * nullable columns appear as nulls in old files) — off by default
    * because schema merging reads every file footer up front, a real cost
    * over 100 TB of files.
    */
  def readParquet(spark: SparkSession, path: String, mergeSchema: Boolean = false): DataFrame =
    spark.read.option("mergeSchema", mergeSchema.toString).parquet(path)

  def readJsonLines(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(r.schema).json(path)
  }

  /** ORC — the other columnar format with predicate pushdown and column
    * pruning native to Spark; same partitioned-write discipline as
    * [[writeParquet]] (pre-shuffle on partition keys → one file per
    * partition dir, not tasks×partitions fragments).
    */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val out = if (partitionBy.nonEmpty)
      df.repartition(partitionBy.map(org.apache.spark.sql.functions.col): _*) else df
    val w = out.write.mode(SaveMode.Overwrite).option("compression", "snappy")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).orc(path)
  }

  def writeCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", header.toString).csv(path)

  /** Snappy parquet (the reference's /tmp parquet load target), optionally
    * hive-partitioned by low-cardinality keys for pruning.
    *
    * Partitioned writes first shuffle on the partition keys: without
    * that, every task writes a file into every hive partition —
    * tasks × partitions tiny files (measured 3× the write time at 17.5M
    * rows / 365 dates). One shuffle, one file per partition.
    */
  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val out = if (partitionBy.nonEmpty)
      df.repartition(partitionBy.map(org.apache.spark.sql.functions.col): _*) else df
    val w = out.write.mode(SaveMode.Overwrite).option("compression", "snappy")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  def writeJsonLines(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** Multimodal ingest: raw files as `(path, modificationTime, length,
    * content BINARY)` rows via the built-in binaryFile source — the
    * on-ramp into [[graft.multimodal.Binary]] (withBlobMeta /
    * featurize). `glob` pushes the name filter into the FILE LISTING:
    * non-matching files are never opened, the pruning that matters when
    * one bucket holds mixed modalities. Listing distributes across the
    * cluster for large trees (`recursive` walks nested date/shard dirs).
    */
  def readBinaryFiles(spark: SparkSession, path: String,
      glob: Option[String] = None, recursive: Boolean = true): DataFrame = {
    val r = spark.read.format("binaryFile")
      .option("recursiveFileLookup", recursive.toString)
    glob.fold(r)(g => r.option("pathGlobFilter", g)).load(path)
  }

  /** Raw text corpus ingest: one row per line, or one row per FILE with
    * `wholeFile` (document-per-file corpora — the usual crawl-dump
    * layout feeding the C-section curation operators).
    */
  def readText(spark: SparkSession, path: String,
      wholeFile: Boolean = false): DataFrame =
    spark.read.option("wholetext", wholeFile.toString).text(path)

  /** Chunked JDBC load — the reference's prepared Postgres path
    * (airflow_dag_calidad_aire.py:323-348, `to_sql(chunksize=1000)`).
    * `numPartitions` is the distributed analogue of the chunk size: each
    * partition opens one connection and batches `batchsize` rows.
    *
    * @note compile-checked only in this environment (zero egress, no DB);
    *       exercised in any deployment with a reachable JDBC endpoint.
    */
  def writeJdbc(df: DataFrame, url: String, table: String,
      props: java.util.Properties, numPartitions: Int = 8, batchSize: Int = 1000): Unit =
    df.repartition(numPartitions).write.mode(SaveMode.Append)
      .option("batchsize", batchSize.toString)
      .jdbc(url, table, props)

  /** Land one micro-batch's rows under `dir/batch=<batchId>`,
    * overwriting that directory. Each batch owns its directory, so the
    * replay `foreachBatch` may deliver after a crash rewrites it with the
    * same rows instead of adding to it. Callers fix the bytes with their
    * own `coalesce` / sort; readers take `spark.read.parquet(dir)` and
    * get `batch` as a partition column.
    */
  def landBatch(df: DataFrame, dir: String, batchId: Long): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(s"$dir/batch=$batchId")

  /** Directory swap through the Hadoop FileSystem API (works on any
    * supported scheme — local, HDFS, s3a, …, unlike java.io/NIO which
    * silently see size 0 and then throw on non-local paths). Sequence:
    * recover any leftovers from a previous crash, rename live → __old,
    * rename tmp → live, delete __old. The two renames leave a small
    * window where the live path is absent, and a crash between them
    * strands the data in __old — [[recoverSwap]] heals that on the next
    * call. True atomicity (and snapshot isolation for concurrent
    * readers) needs a table format with a metadata pointer
    * (Delta/Iceberg); these sinks express the rewrite semantics that
    * carry over to one.
    */
  private[graft] def swapDirs(fs: org.apache.hadoop.fs.FileSystem,
      live: org.apache.hadoop.fs.Path, tmp: org.apache.hadoop.fs.Path): Unit = {
    val dead = live.suffix("__old")
    if (fs.exists(live)) {
      require(fs.rename(live, dead), s"swap: rename $live -> $dead failed")
    }
    require(fs.rename(tmp, live), s"swap: rename $tmp -> $live failed")
    if (fs.exists(dead)) fs.delete(dead, true)
  }

  /** Heal leftovers of a swap that crashed mid-sequence: a stranded
    * __old with no live dir is renamed back (crash between the two
    * renames); a stale tmp dir from an aborted rewrite is deleted.
    */
  private[graft] def recoverSwap(fs: org.apache.hadoop.fs.FileSystem,
      live: org.apache.hadoop.fs.Path, tmp: org.apache.hadoop.fs.Path): Unit = {
    val dead = live.suffix("__old")
    if (fs.exists(dead) && !fs.exists(live)) {
      require(fs.rename(dead, live), s"recovery: rename $dead -> $live failed")
    }
    if (fs.exists(dead) && fs.exists(live)) fs.delete(dead, true)
    if (fs.exists(tmp)) fs.delete(tmp, true)
  }

  /** Small-files compaction: rewrite a parquet dataset into files of
    * roughly `targetBytes` each. Small files are the silent killer of
    * 100 TB reads (per-file open/footer cost, starved scans, NameNode /
    * listing pressure): streaming sinks and over-parallel writers leave
    * thousands of KB-scale files behind. Sizing reads the actual on-disk
    * bytes via the Hadoop FileSystem of the path's scheme (not java.io —
    * correct on HDFS/S3 too), writes to a temp dir, then swaps.
    *
    * `partitionCols` preserves a hive-partitioned layout: each partition
    * directory is rewritten under its own key (one file per partition dir
    * by default via the pre-shuffle in [[writeParquet]]); omitting it for
    * a partitioned dataset would flatten the layout and lose pruning.
    */
  def compact(spark: SparkSession, path: String, targetBytes: Long = 128L * 1024 * 1024,
      partitionCols: Seq[String] = Nil): Long = {
    import org.apache.hadoop.fs.Path
    val live = new Path(path)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = live.suffix("__compacting")
    recoverSwap(fs, live, tmp)
    val bytes = fs.getContentSummary(live).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(path)
    if (partitionCols.isEmpty)
      df.repartition(nFiles)
        .write.mode(SaveMode.Overwrite).option("compression", "snappy").parquet(tmp.toString)
    else
      writeParquet(df, tmp.toString, partitionCols)
    swapDirs(fs, live, tmp)
    nFiles.toLong
  }

  /** Z-ordered parquet layout (`OPTIMIZE ZORDER BY` semantics): bucketize
    * each layout column over its global range, interleave the bucket bits
    * into a Morton code ([[graft.functions.ZOrder]]), range-partition by
    * the code into `numFiles` files, sort within each. A d-dimensional
    * box predicate then touches O(few) files and parquet min/max stats
    * prune row groups on EVERY layout column — not just the leading sort
    * key a linear layout gives you. The code column is layout machinery
    * only; it is dropped before write (the projection is order-preserving,
    * so the within-file clustering survives).
    *
    * One pass for the min/max agg (2 doubles per column to the driver —
    * bounded), one range exchange for the layout: the same cost as any
    * sorted rewrite, so re-clustering 100 TB is a compact() with a better
    * file order.
    */
  def writeZOrdered(df: DataFrame, path: String, zCols: Seq[String],
      numFiles: Int, bits: Int = 12): Unit = {
    import org.apache.spark.sql.functions.{col, max, min}
    require(zCols.size >= 2, s"z-ordering needs >= 2 columns, got $zCols")
    zCols.foreach { c =>
      val dt = df.schema(c).dataType
      require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"writeZOrdered: layout column '$c' is $dt — z-ordering needs numeric " +
          "columns; cast dates/timestamps/strings to a numeric surrogate " +
          "(e.g. unix_micros, unix_date, a dictionary code) first")
    }
    val aggs = zCols.flatMap(c => Seq(min(col(c)), max(col(c))))
    val stats = df.agg(aggs.head, aggs.tail: _*).head()
    val bucketed = zCols.zipWithIndex.map { case (c, i) =>
      val (lo, hi) = (stats.getAs[Any](2 * i), stats.getAs[Any](2 * i + 1))
      require(lo != null && hi != null,
        s"writeZOrdered: no min/max stats for layout column '$c' — the " +
          "input is empty or the column is all-null; z-ordering needs at " +
          "least one non-null row per layout column")
      def d(x: Any) = x match { case n: Number => n.doubleValue }
      graft.functions.ZOrder.bucketize(col(c), d(lo), d(hi), bits)
    }
    df.withColumn("__z", graft.functions.ZOrder.zValue(bucketed, bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(SaveMode.Overwrite).option("compression", "snappy").parquet(path)
  }

  /** Bucketed managed table: both sides of a repeated equi-join written
    * with the same bucketing never shuffle again — the co-location
    * strategy for fact-fact joins at 100 TB. (Bucketing requires the
    * table catalog, hence `saveAsTable` rather than a path write.)
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String, buckets: Int,
      sortCol: Option[String] = None): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .format("parquet").bucketBy(buckets, bucketCol)
    sortCol.fold(w)(c => w.sortBy(c)).saveAsTable(table)
  }

  /** Rebuild a managed bucketed table from `folded` with the crash-safe
    * swap discipline: write `<table>_new` first, drop the old table,
    * rename — the only destructive step happens after the replacement is
    * durable, and [[recoverRebuild]] heals both crash windows. Callers
    * must invoke [[recoverRebuild]] on entry to every surface that reads
    * or writes the table (see `etl.IncrementalAgg` / `operators
    * .IncrementalCC` for the pattern).
    */
  private[graft] def rebuildBucketed(spark: SparkSession, table: String,
      folded: DataFrame, bucketCol: String, buckets: Int): Unit = {
    // preserve the table's within-bucket sort (appendBucketed re-states it
    // from the catalog the same way) — a rebuild must not silently lose
    // the file order that makes row-group stats pruning work
    val sortCol = org.apache.spark.sql.GraftShims.bucketSpec(spark, table)
      .flatMap(_._3.headOption)
    graft.dedup.IncrementalDedup.dropForRebuild(spark, s"${table}_new")
    writeBucketed(folded, s"${table}_new", bucketCol, buckets, sortCol)
    graft.dedup.IncrementalDedup.dropForRebuild(spark, table)
    spark.sql(s"ALTER TABLE ${table}_new RENAME TO $table")
  }

  /** Heal a crash inside [[rebuildBucketed]]'s swap window. Idempotent. */
  private[graft] def recoverRebuild(spark: SparkSession, table: String): Unit = {
    val nw = s"${table}_new"
    if (spark.catalog.tableExists(nw)) {
      if (spark.catalog.tableExists(table))
        // crash BEFORE the drop: the old table is still the source of
        // truth and the half-written rebuild is an orphan — discard it
        graft.dedup.IncrementalDedup.dropForRebuild(spark, nw)
      else
        // crash AFTER the drop: the rebuild is complete (written before
        // the drop) — promote it
        spark.sql(s"ALTER TABLE $nw RENAME TO $table")
    }
  }

  /** Append to an existing bucketed table, preserving its layout. Spark
    * REFUSES a bucketed append unless the writer re-states a bucket spec
    * identical to the table's ("Specified bucketing does not match that
    * of the existing table"), so the spec is read back from the catalog —
    * callers cannot drift from whatever [[writeBucketed]] created.
    */
  def appendBucketed(df: DataFrame, table: String): Unit = {
    val (buckets, bucketCols, sortCols) =
      org.apache.spark.sql.GraftShims.bucketSpec(df.sparkSession, table).getOrElse(
        throw new IllegalArgumentException(
          s"appendBucketed: table $table exists without a bucket spec — " +
            "use a plain append or rewrite it with writeBucketed"))
    val w = df.write.mode(SaveMode.Append).format("parquet")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }
}
