package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, max, min}

import graft.core.Tables

/** Sort-clustered mirrors of the fact tables — the DATA-SKIPPING lever,
  * complementing [[BucketedTables]]' shuffle-elimination lever.
  *
  * Parquet stores min/max statistics per row group (and per page); the
  * reader skips any row group whose [min, max] cannot satisfy a pushed
  * predicate. Those statistics are only selective if the data is laid
  * out so each row group covers a NARROW key range — on an unsorted
  * table every row group spans the whole key domain and the stats prune
  * nothing. `repartitionByRange(key) + sortWithinPartitions(key)` at
  * write time gives every file a disjoint key range and every row group
  * within it a monotone sub-range, so a point or range predicate on the
  * cluster key touches O(selectivity) of the data instead of all of it.
  * This is the single biggest scan-cost lever a 100 TB immutable fact
  * table has: it needs no index structure, no table format, and pays
  * one range-shuffle at ingest, amortized over every later query.
  * (Multi-key layouts interleave bits — Z-order/Hilbert — to spread
  * selectivity across keys; the single-key range-cluster here is the
  * degenerate and most common case. ClusteredTablesSpec reads the
  * parquet footers and proves the pruning arithmetic; at cluster scale
  * a table format would ALSO prune whole files from the same stats at
  * PLAN time, before any task launches.)
  *
  * Mirror lifecycle matches BucketedTables: built once per (corpus,
  * layout) under target/ scratch, memoized by a marker-committed
  * directory; single-JVM, immutable-corpus assumptions apply.
  */
object ClusteredTables {

  private def mirrorPath(sfDir: String, layout: String): Path =
    graft.core.Scratch.dir("clustered-mirror", sfDir).resolve(layout)

  /** Read table `name` range-clustered on `keys` (building the mirror on
    * first use). `partitions` sizes the range split — the local analog
    * of targeting ~1 GB files per key range at scale.
    *
    * `bloomKeys` additionally writes a parquet BLOOM FILTER per listed
    * column — the skipping lever for point lookups on columns the sort
    * order does NOT cover: min/max stats on an unsorted column span the
    * whole domain and prune nothing, while the bloom answers "key
    * definitely absent from this row group" at ~1% false-positive cost
    * (the reader consults it for = predicates automatically). Sort
    * covers the range queries on the cluster key; blooms cover point
    * probes on everything else — together they are the poor-man's
    * secondary index an immutable 100 TB fact table actually gets.
    *
    * Dictionary encoding is turned OFF for bloom columns: parquet-mr
    * drops the bloom when a chunk stays fully dictionary-encoded (the
    * dictionary is already an exact membership filter), which is every
    * chunk at test scale. At 100 TB cardinality the dictionary caps out
    * chunk-by-chunk and the bloom takes over; forcing plain encoding
    * locally exercises the same path the big corpus would take. */
  def clustered(spark: SparkSession, sfDir: String, name: String,
      keys: Seq[String], partitions: Int = 8,
      bloomKeys: Seq[String] = Seq.empty): DataFrame = {
    val layout = (s"${name}_${keys.mkString("_")}_$partitions" +:
      bloomKeys.map(k => s"bf_$k")).mkString("_")
    build(spark, sfDir, name, layout,
      bloomKeys.flatMap(k => Seq(
        s"parquet.bloom.filter.enabled#$k" -> "true",
        s"parquet.enable.dictionary#$k" -> "false")).toMap,
      manifestKeys = keys) { df =>
      df.repartitionByRange(partitions, keys.map(col): _*)
        .sortWithinPartitions(keys.map(col): _*)
    }
  }

  /** Range read over a clustered mirror with PLAN-TIME file pruning:
    * only files whose manifest [min, max] overlaps [lo, hi) are handed
    * to the scan — non-overlapping files are never listed, planned, or
    * opened (no task launches for them), one step beyond the reader's
    * row-group skipping which still schedules a task per file. This is
    * the core read-path trick of every table format (Iceberg/Delta
    * manifests), reproduced on plain parquet from the stats the build
    * step already collected. The row-level predicate must still be
    * applied by the caller — file ranges are coarse. Falls back to the
    * full file set when the manifest is missing (a crash between data
    * write and manifest write costs pruning, never correctness). */
  def clusteredRange(spark: SparkSession, sfDir: String, name: String,
      keys: Seq[String], key: String, lo: Long, hi: Long,
      partitions: Int = 8): DataFrame = {
    clustered(spark, sfDir, name, keys, partitions) // ensure built + manifest
    readPruned(spark, Tables.read(spark, sfDir, name).schema,
      Paths.get(clusteredPath(sfDir, name, keys, partitions)), key, lo, hi)
  }

  /** [[clusteredRange]] for a z-ordered mirror: the manifest carries
    * BOTH original keys, so either dimension prunes files. */
  def zOrderedRange(spark: SparkSession, sfDir: String, name: String,
      keyA: String, keyB: String, key: String, lo: Long, hi: Long,
      partitions: Int = 8): DataFrame = {
    zOrdered(spark, sfDir, name, keyA, keyB, partitions)
    readPruned(spark, Tables.read(spark, sfDir, name).schema,
      Paths.get(zOrderedPath(sfDir, name, keyA, keyB, partitions)), key, lo, hi)
  }

  /** Read table `name` Z-ORDER clustered on two integral keys: each key
    * is min/max-rescaled to [0, 2^31) and bit-interleaved
    * (functions.zorder64 — a native codegen'd Morton curve), and the
    * table is range-clustered on the interleaved value. Rows end up
    * close in BOTH key dimensions, so row-group min/max stats prune a
    * predicate on EITHER key — where a plain sort prunes only its
    * leading key (proven from the footers in ClusteredTablesSpec).
    * The curve column itself is dropped before the write: it is a
    * layout decision, not data. */
  def zOrdered(spark: SparkSession, sfDir: String, name: String,
      keyA: String, keyB: String, partitions: Int = 8): DataFrame = {
    val layout = s"${name}_z31_${keyA}_${keyB}_$partitions"
    build(spark, sfDir, name, layout, manifestKeys = Seq(keyA, keyB)) { df =>
      // min/max rescale per key (one tiny agg job at build time): the
      // curve needs both keys on comparable scales, or the wider
      // domain monopolizes the high interleaved bits. Normalized to
      // [0, 2^31): with 2^32-scaled keys, keyB's top bit landed at long
      // bit 63 (spread<<1), so the SIGNED repartitionByRange sort split
      // the curve at the keyB midpoint and the partition straddling the
      // sign wrap spanned nearly the whole key plane — near-useless
      // min/max stats for that file (review r8, advisor finding). At
      // 31 bits the interleaved value tops out at bit 61 and stays
      // nonnegative, so signed order == unsigned Morton order.
      val Seq((loA, hiA), (loB, hiB)) = Seq(keyA, keyB).map { k =>
        val r = df.agg(min(col(k)), max(col(k))).head()
        (r.getLong(0), math.max(r.getLong(1), r.getLong(0) + 1))
      }
      def norm(k: String, lo: Long, hi: Long) =
        (((col(k) - lo).cast("double") / (hi - lo).toDouble)
          * ((1L << 31) - 1).toDouble).cast("long")
      df.withColumn("_z",
          graft.functions.functions.zorder64(
            norm(keyA, loA, hiA), norm(keyB, loB, hiB)))
        .repartitionByRange(partitions, col("_z"))
        .sortWithinPartitions(col("_z"))
        .drop("_z")
    }
  }

  /** On-disk location of a mirror built by [[clustered]] (spec access —
    * the footer assertions read the parquet files directly). */
  private[graft] def clusteredPath(sfDir: String, name: String,
      keys: Seq[String], partitions: Int = 8,
      bloomKeys: Seq[String] = Seq.empty): String =
    mirrorPath(sfDir, (s"${name}_${keys.mkString("_")}_$partitions" +:
      bloomKeys.map(k => s"bf_$k")).mkString("_")).toString

  /** On-disk location of a mirror built by [[zOrdered]]. */
  private[graft] def zOrderedPath(sfDir: String, name: String,
      keyA: String, keyB: String, partitions: Int = 8): String =
    mirrorPath(sfDir, s"${name}_z31_${keyA}_${keyB}_$partitions").toString

  /** Committed-mirror flag, created by the publish marker. Distinct
    * from Spark's `_SUCCESS` (which only proves the data JOB finished):
    * the marker also covers the manifest, which is now staged alongside
    * the data and published in the same move — the old in-place build
    * had a crash window where a `_SUCCESS`-complete mirror existed with
    * no manifest (review r8; safe but pruning-less). Underscore prefix
    * keeps it invisible to the parquet reader. */
  private val CommittedMarker = graft.core.CommittedStore.MarkerFile

  private def build(spark: SparkSession, sfDir: String, name: String,
      layout: String, writeOptions: Map[String, String] = Map.empty,
      manifestKeys: Seq[String] = Seq.empty)(
      shape: DataFrame => DataFrame): DataFrame = {
    val path = mirrorPath(sfDir, layout)
    this.synchronized {
      if (!Files.exists(path.resolve(CommittedMarker))) {
        // stage → (manifest) → move → marker, through the one shared
        // publish implementation (graft.core.CommitProtocol)
        val staging = path.getParent.resolve(path.getFileName.toString + ".staging")
        graft.core.CommitProtocol.deleteRecursively(staging)
        shape(Tables.read(spark, sfDir, name))
          .write.mode(SaveMode.Overwrite).options(writeOptions)
          .parquet(staging.toString)
        if (manifestKeys.nonEmpty) writeManifest(spark, staging, manifestKeys)
        graft.core.CommitProtocol.publish(staging, Seq(staging -> path)) {
          Files.createFile(path.resolve(CommittedMarker)); ()
        }
      }
    }
    spark.read.schema(Tables.read(spark, sfDir, name).schema)
      .parquet(path.toString)
  }

  private val ManifestName = "_key_manifest.tsv"

  /** Per-file [min, max] of each integral layout key, aggregated over
    * the file's row groups and written as `file \t key \t min \t max`
    * lines — the footers are open on the driver anyway right after the
    * build (a handful of files locally; a manifest job at scale). */
  private def writeManifest(spark: SparkSession, dir: Path,
      keys: Seq[String]): Unit = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val files = listParquet(dir)
    val lines = files.flatMap { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(f.toString), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val blocks = r.getFooter.getBlocks.asScala.toSeq
        keys.flatMap { k =>
          val cols = blocks.flatMap(_.getColumns.asScala
            .find(_.getPath.toDotString == k))
          val stats = cols.map(_.getStatistics)
          // a key with absent/invalid stats gets no line — readPruned
          // keeps unlisted files conservatively. Non-INT64 keys are
          // skipped the same way: the Long cast on genericGetMin threw
          // ClassCastException AFTER the data write for any other key
          // type clustered() legally accepts, failing the whole mirror
          // build over an optional index (review r8, advisor finding).
          val int64 = cols.nonEmpty && cols.forall(
            _.getPrimitiveType.getPrimitiveTypeName ==
              org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64)
          if (!int64 || stats.exists(s => s == null || s.isEmpty)) None
          else Some(s"${f.getFileName}\t$k\t" +
            s"${stats.map(_.genericGetMin.asInstanceOf[Long]).min}\t" +
            s"${stats.map(_.genericGetMax.asInstanceOf[Long]).max}")
        }
      } finally r.close()
    }
    Files.write(dir.resolve(ManifestName), lines.asJava)
    ()
  }

  private def listParquet(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet") && Files.size(p) > 0)
        .toSeq.sortBy(_.getFileName.toString)
    } finally s.close()
  }

  private def readPruned(spark: SparkSession, schema: org.apache.spark.sql.types.StructType,
      dir: Path, key: String, lo: Long, hi: Long): DataFrame = {
    val mf = dir.resolve(ManifestName)
    val all = listParquet(dir)
    val keep =
      if (!Files.exists(mf)) all
      else {
        import scala.jdk.CollectionConverters._
        val ranges = Files.readAllLines(mf).asScala
          .map(_.split("\t"))
          .collect { case Array(f, k, mn, mx) if k == key =>
            f -> (mn.toLong, mx.toLong)
          }.toMap
        // unlisted files are kept (no stats = no proof of non-overlap)
        all.filter(p => ranges.get(p.getFileName.toString)
          .forall { case (mn, mx) => mx >= lo && mn < hi })
      }
    if (keep.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(keep.map(_.toString): _*)
  }
}
