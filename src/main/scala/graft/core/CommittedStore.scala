package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit}
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Path}

/** The ONE committed-store module: every versioned store and model
  * sidecar built on [[CommitProtocol]] — the four indexes
  * ([[graft.queries.DedupIndex]], [[graft.queries.SemanticIndex]],
  * [[graft.queries.PostingsIndex]], [[graft.queries.PhashIndex]]),
  * their signature-gated builds, and the three model sidecars
  * (ann-centroids, journey-model, bpe-merges) — routes its layout,
  * publish and currency rules through here, so a store-level fix lands
  * once. The stores keep only their grains, schemas and domain rules.
  *
  * Versioned layout contract (the indexes):
  *   - `root/base-N/` — full snapshots; the HIGHEST N with a
  *     `_GRAFT_COMMITTED` marker is current. A new base becomes visible
  *     exactly at its marker; a crash anywhere in a publish leaves the
  *     previous committed snapshot intact, and superseded versions are
  *     retired lazily AFTER the new marker exists. Staged under the
  *     `<root>-staging` sibling.
  *   - `base-N/delta=M/` — committed maintenance batches OWNED by their
  *     base version, each with its own marker; an optional
  *     `_GRAFT_EPOCH` file carries the streaming micro-batch id the
  *     delta folded, so replays are no-ops. Staged under the
  *     `<root>-delta-staging` sibling.
  *   - `base-N/_GRAFT_EPOCHS` — the epoch high-water set CARRIED
  *     FORWARD at compaction: a compacting publish starts a base with
  *     zero deltas, and without the carry a crash after a mid-stream
  *     compaction but before the streaming checkpoint commit would make
  *     Structured Streaming re-fold its last micro-batch on top of the
  *     compacted base. [[appliedEpochs]] is the union of this file and
  *     the live delta chain's tags. The set is one long per folded
  *     batch since the last FULL rebuild (which starts a fresh base-1
  *     with no carry, paired with a fresh streaming checkpoint).
  *   - `root/_GRAFT_SIG` — the corpus signature a [[gatedBuild]] built
  *     against, written LAST.
  *
  * Sidecar contract ([[publishArtifact]]): one parquet dir holding the
  * model rows plus a `corpus_sig` column, committed by its marker and
  * staged under the `<kind>-staging` sibling of the kind dir, so the
  * oracle's `<kind>/<corpus>/` glob never sees half-written files.
  */
object CommittedStore {

  /** Commit marker file name — also the mirror families' marker. */
  val MarkerFile = "_GRAFT_COMMITTED"
  private val SigFile = "_GRAFT_SIG"
  private val EpochsCarryFile = "_GRAFT_EPOCHS"
  private val EpochTagFile = "_GRAFT_EPOCH"
  private val SigColumn = "corpus_sig"

  /** Lineage-cut cadence for delta-chain composition: iterated
    * per-delta joins grow plan depth O(deltas) between compactions, so
    * every ChainCutEvery deltas the composed view takes a lazy
    * localCheckpoint and analysis/optimization cost stays bounded
    * whatever the chain length; compaction (and q_index_health's
    * compact_due flag at 4 deltas) remains the real fix. */
  private val ChainCutEvery = 4

  private def marker(dir: Path): Path = dir.resolve(MarkerFile)

  /** A corpus signature: `sigExpr` aggregated over `frame` to one long. */
  def signature(frame: DataFrame, sigExpr: String): Long =
    frame.agg(expr(sigExpr)).head().getLong(0)

  private def baseVersions(root: Path): Seq[(Int, Path)] =
    if (!Files.isDirectory(root)) Seq.empty
    else {
      val ds = Files.list(root)
      try ds.toArray.toSeq.map(_.asInstanceOf[Path])
        .filter(_.getFileName.toString.startsWith("base-"))
        .flatMap { p =>
          p.getFileName.toString.stripPrefix("base-").toIntOption.map(_ -> p)
        }.sortBy(_._1)
      finally ds.close()
    }

  private def committedBases(root: Path): Seq[(Int, Path)] =
    baseVersions(root).filter { case (_, p) => Files.exists(marker(p)) }

  /** The current committed base snapshot dir — the HIGHEST base-N with
    * a marker (unmarked versions are crash residue, invisible). */
  def currentBaseDir(root: Path): Option[Path] =
    committedBases(root).lastOption.map(_._2)

  def requireBase(root: Path): Path =
    currentBaseDir(root).getOrElse(sys.error(s"no committed store at $root"))

  /** Read a committed parquet dir with an explicit schema — an empty
    * frame writes zero part files, and a schema-less read of that is an
    * inference error, not an empty table. */
  def readDir(spark: SparkSession, dir: Path, schema: StructType): DataFrame =
    if (!Files.isDirectory(dir))
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.schema(schema).parquet(dir.toString)

  /** Exact row count of a committed parquet dir from its file FOOTERS —
    * a driver-side metadata read, ZERO Spark jobs (a distributed count
    * over committed parquet still pays a full job-schedule round per
    * table). Missing dir = empty = 0. */
  private def footerRowCount(spark: SparkSession, dir: Path): Long =
    if (!Files.isDirectory(dir)) 0L
    else {
      val conf = spark.sessionState.newHadoopConf()
      // recursive walk: bucketed bases are hive-partitioned
      // (bucket=N/part-*.parquet), so the files sit one level down
      val ds = Files.walk(dir)
      val files =
        try ds.toArray.toSeq.map(_.asInstanceOf[Path])
          .filter(_.getFileName.toString.endsWith(".parquet"))
        finally ds.close()
      // footer opens are independent ms-scale IO — read them from a
      // small pool so a many-file dir stays bounded by IO, not by a
      // serial per-file round trip
      graft.operators.Par.run(files.map { p => () =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(p.toUri), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }, maxInFlight = 8).sum
    }

  def committedDeltas(base: Path): Seq[Path] =
    Iterator.from(1).map(n => base.resolve(s"delta=$n"))
      .takeWhile(d => Files.exists(marker(d))).toSeq

  /** Length of the current committed delta chain — the compaction-
    * cadence readout (q_index_health). */
  def committedDeltaCount(root: Path): Int =
    currentBaseDir(root).map(committedDeltas(_).size).getOrElse(0)

  /** Streaming-replay epochs already folded into the current committed
    * version: the base's carried set (compaction survivors) plus the
    * live delta chain's tags. */
  def appliedEpochs(root: Path): Set[Long] =
    currentBaseDir(root).toSeq.flatMap { base =>
      val carried = {
        val f = base.resolve(EpochsCarryFile)
        if (Files.exists(f))
          Files.readString(f).split('\n').toSeq.flatMap(_.trim.toLongOption)
        else Seq.empty
      }
      carried ++ committedDeltas(base).flatMap { d =>
        val f = d.resolve(EpochTagFile)
        if (Files.exists(f)) Files.readString(f).trim.toLongOption else None
      }
    }.toSet

  /** Move `staging` to `dest` with the commit marker LAST. */
  private def publishMarked(staging: Path, dest: Path): Unit =
    CommitProtocol.publish(staging, Seq(staging -> dest)) {
      Files.createFile(marker(dest)); ()
    }

  /** Publish the NEXT base version: `stage` writes the snapshot's grains
    * into the staging dir, the marker commits it, and superseded
    * versions are retired afterwards (marker FIRST, so a crash
    * mid-delete leaves only unmarked residue — a crash there costs disk,
    * never data). `carryEpochs` (compaction paths only) stages the
    * applied replay epochs so they ride the same marker; a from-scratch
    * rebuild starts a clean epoch history by design. */
  def publishBase(root: Path, carryEpochs: Boolean)(stage: Path => Unit): Unit = {
    Files.createDirectories(root)
    val next = committedBases(root).lastOption.map(_._1 + 1).getOrElse(1)
    val dest = root.resolve(s"base-$next")
    val staging = root.resolveSibling(s"${root.getFileName}-staging")
    CommitProtocol.deleteRecursively(staging)
    stage(staging)
    val es = if (carryEpochs) appliedEpochs(root) else Set.empty[Long]
    if (es.nonEmpty)
      Files.writeString(staging.resolve(EpochsCarryFile),
        es.toSeq.sorted.mkString("\n"))
    publishMarked(staging, dest)
    baseVersions(root).map(_._2).filterNot(_ == dest).foreach { old =>
      Files.deleteIfExists(marker(old))
      CommitProtocol.deleteRecursively(old)
    }
  }

  /** Publish the next `delta=M` of the current base: `stage` writes the
    * batch's grains into the staging dir, tagged with `epoch` and
    * committed by its marker. An epoch already applied makes the call a
    * NO-OP, so Structured Streaming's micro-batch replays after a crash
    * fold each batch exactly once. */
  def publishDelta(root: Path, epoch: Option[Long])(stage: Path => Unit): Unit =
    if (!epoch.exists(appliedEpochs(root).contains)) {
      val base = requireBase(root)
      val dest = base.resolve(s"delta=${committedDeltas(base).size + 1}")
      val staging = root.resolveSibling(s"${root.getFileName}-delta-staging")
      CommitProtocol.deleteRecursively(staging)
      stage(staging)
      epoch.foreach(e =>
        Files.writeString(staging.resolve(EpochTagFile), e.toString))
      publishMarked(staging, dest)
    }

  /** Stage a delta's tombstones: the first column of `tombs` as longs
    * named `key`, one file under `tombs/`. */
  def stageTombs(staging: Path, tombs: DataFrame, key: String): Unit =
    tombs.select(col(tombs.columns.head).cast("long").as(key))
      .coalesce(1).write.parquet(staging.resolve("tombs").toString)

  /** Compose `deltas` over `start` with the store's per-delta `step`,
    * cutting lineage every [[ChainCutEvery]] deltas. */
  def composeChain(start: DataFrame, deltas: Seq[Path])(
      step: (DataFrame, Path) => DataFrame): DataFrame =
    deltas.zipWithIndex.foldLeft(start) { case (view, (d, i)) =>
      val next = step(view, d)
      if ((i + 1) % ChainCutEvery == 0) next.localCheckpoint(eager = false)
      else next
    }

  /** Operational counters for the health face (q_index_health):
    * (committed delta-chain length, base rows of `baseGrain`, Σ delta
    * rows of `addsGrain`, composed `live` rows). Base/add counts are
    * footer reads; only the composed live count runs a real job, the
    * honest price of an audit-grade readout. */
  def healthCounts(spark: SparkSession, root: Path, baseGrain: String,
      addsGrain: String)(live: => DataFrame): (Long, Long, Long, Long) = {
    val base = requireBase(root)
    val deltas = committedDeltas(base)
    val nBase = footerRowCount(spark, base.resolve(baseGrain))
    val nAdds = deltas.map(d => footerRowCount(spark, d.resolve(addsGrain))).sum
    (deltas.size.toLong, nBase, nAdds, live.count())
  }

  /** The signature-gated build: reuse the store at `root` when it is
    * committed with exactly `deltas` deltas, `layoutCurrent` holds (a
    * layout change the content signature cannot see) and its
    * `_GRAFT_SIG` equals `sig`; otherwise drop the signature, run
    * `build`, and write the signature LAST — a crash or a throwing
    * build leaves no signature, so the next call rebuilds rather than
    * trusting partial state. */
  def gatedBuild(root: Path, sig: Long, deltas: Int,
      layoutCurrent: => Boolean)(build: => Unit): Unit = {
    val sigFile = root.resolve(SigFile)
    val current = currentBaseDir(root).isDefined &&
      committedDeltaCount(root) == deltas &&
      layoutCurrent && Files.exists(sigFile) &&
      Files.readString(sigFile).trim == sig.toString
    if (!current) {
      Files.deleteIfExists(sigFile)
      build
      Files.writeString(sigFile, sig.toString)
    }
  }

  private val artifactLocks =
    new java.util.concurrent.ConcurrentHashMap[Path, AnyRef]()

  /** Build-or-reuse a single-directory model sidecar at `path`, verified
    * against `sig`: it is current only when marked and holding exactly
    * one distinct `corpus_sig`, equal to `sig` — a marked-but-empty
    * (externally truncated) or mixed-signature sidecar reads as STALE
    * and is rebuilt, never a hard failure for every reader. A rebuild
    * stages `build` plus the signature column outside the kind dir, then
    * publishes it (clearing the stale sidecar as destination residue).
    * Returns the committed rows. */
  def publishArtifact(spark: SparkSession, path: Path, sig: Long)(
      build: => DataFrame): DataFrame = {
    artifactLocks.computeIfAbsent(path, _ => new Object).synchronized {
      val current = Files.exists(marker(path)) && {
        val sigs = spark.read.parquet(path.toString)
          .select(SigColumn).distinct().limit(2).collect().toSeq
        sigs.length == 1 && sigs.head.getLong(0) == sig
      }
      if (!current) {
        Files.deleteIfExists(marker(path))
        val kindDir = path.getParent
        val staging = kindDir.resolveSibling(s"${kindDir.getFileName}-staging")
          .resolve(path.getFileName)
        CommitProtocol.deleteRecursively(staging)
        build.withColumn(SigColumn, lit(sig)).coalesce(1)
          .write.mode("overwrite").parquet(staging.toString)
        publishMarked(staging, path)
      }
    }
    spark.read.parquet(path.toString)
  }
}
