package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Session

/** Shared drain-a-stream-into-parquet machinery for the synchronous
  * streaming queries (streamingDaily, streamingSessions, qStreamLoad):
  * append-mode file sink + checkpoint, drained with processAllAvailable,
  * then read back as a batch DataFrame.
  */
object Drain {

  /** Engine-reported drain accounting from StreamingQueryProgress.
    * NOTE `droppedByWatermark` counts only late rows that REACH a state
    * store; the derived watermark filter ahead of the stateful operator
    * removes most late rows without incrementing it — so drop totals
    * should be derived from `inputRows` minus sink output, with this
    * counter as a supporting signal only.
    */
  case class DrainStats(inputRows: Long, droppedByWatermark: Long)

  /** ~128 MB of batch input per shuffle/state partition (guide §2.1's
    * partition-sizing target), floored at the Drain-measured fixture
    * minimum of 4 (see [[run]]'s scaladoc for that measurement).
    */
  val TargetBytesPerPartition: Long = 128L * 1024 * 1024

  /** Scale-adaptive partition count for `batchBytes` of per-micro-batch
    * input: `max(floor, ceil(batchBytes / 128 MB))`. This is the formula
    * the [[run]] scaladoc promises ("scales UP with volume on a real
    * cluster") — at fixture volume (≤11 MB staged zones) it returns the
    * measured floor of 4, so local bench numbers are unchanged; at
    * production batch volumes the count grows with the data instead of
    * serializing every per-batch shuffle through a constant.
    */
  def partitionsForBytes(batchBytes: Long, floor: Int = 4): Int =
    math.max(floor.toLong,
      (batchBytes + TargetBytesPerPartition - 1) / TargetBytesPerPartition)
      .toInt

  /** [[partitionsForBytes]] over a staged landing zone: the per-trigger
    * batch volume is the whole zone for drains that take every staged
    * file in one micro-batch, or the largest staged file for the
    * `maxFilesPerTrigger=1` replay sources (`perTriggerFiles = Some(1)`
    * sizes by the largest `k` files — the worst-case micro-batch).
    */
  def adaptivePartitions(srcDir: Path,
      perTriggerFiles: Option[Int] = None): Int = {
    val sizes: Seq[Long] =
      if (!Files.isDirectory(srcDir)) Nil
      else {
        import scala.jdk.CollectionConverters._
        val listing = Files.list(srcDir)
        try listing.iterator().asScala
          .filter(Files.isRegularFile(_)).map(Files.size).toSeq
        finally listing.close()
      }
    val batchBytes = perTriggerFiles match {
      case Some(k) => sizes.sorted(Ordering[Long].reverse).take(k).sum
      case None => sizes.sum
    }
    partitionsForBytes(batchBytes)
  }

  /** The fixture floor of [[partitionsForBytes]] — a derived count at
    * this value means the per-trigger batch is ≤ ~512 MB.
    */
  val PartitionFloor = 4

  /** Run `body` — a custom `foreachBatch` drain — with
    * `spark.sql.shuffle.partitions` pinned to `n`. A micro-batch query
    * snapshots the session conf at `start()`, so this is the same
    * override [[run]] applies for the file-sink drains.
    *
    * When `n` sits at the fixture floor (batch ≤ ~512 MB), adaptive query
    * execution is also disabled for the drain's per-batch bodies: AQE
    * materializes EVERY exchange of every per-batch action as its own
    * scheduled job so it can re-optimize between stages (measured on the
    * curation funnel: ~23 stage-jobs per micro-batch, 20–150 ms each —
    * ~1.3 s/drain of pure scheduling), and below the floor there is
    * nothing to re-optimize — no partitions to coalesce below the floor,
    * no skew to split in single-digit-task stages. At production batch
    * volumes (count above the floor) AQE stays ON — coalescing and skew
    * handling earn their per-stage jobs there. Session confs are restored
    * after `body`.
    */
  def withBatchShuffle[T](spark: SparkSession, n: Int)(body: => T): T = {
    val aqeOff =
      if (n <= PartitionFloor) Seq("spark.sql.adaptive.enabled" -> "false") else Nil
    Session.withConf(spark, ("spark.sql.shuffle.partitions" -> n.toString) +: aqeOff: _*)(body)
  }

  /** Low-level: run `stream` into `outDir` with `ckptDir`, synchronously,
    * and return [[DrainStats]] summed across the drained micro-batches
    * (most callers ignore it; x_stream_late asserts on it).
    *
    * `shufflePartitions` sizes the stateful operators' state-store count
    * for the stream's data volume (a micro-batch query pins its
    * partition count at first start from the session conf): every
    * stateful partition costs checkpointed store files PER MICRO-BATCH
    * regardless of how little state it holds, so an oversized count is
    * pure fixed overhead — measured here, a stream-stream join over the
    * sf0.1 fixture spends most of its wall clock on 32-partition state
    * churn that 8 partitions absorb, and dropping to 4 shaved a further
    * ~17% off the streaming family's wall clock with bit-identical
    * results (most of these drains key state on event_type — 5 keys —
    * or a user hash whose fixture volume 4 stores absorb). On a real
    * cluster the same knob scales UP with key cardinality and volume.
    * The session conf is restored after the drain; batch queries in the
    * session never see the override.
    */
  def run(stream: DataFrame, outDir: String, ckptDir: String,
          shufflePartitions: Option[Int] = None): DrainStats = {
    val spark = stream.sparkSession
    Session.withConf(spark,
        shufflePartitions.map(n => "spark.sql.shuffle.partitions" -> n.toString).toSeq: _*) {
      // State-store provider: the default HDFS-backed one is kept on purpose.
      // Measured over the six stateful streaming queries (sf0.1, local[32],
      // idle box): hdfs-default 19.1 s total, RocksDB 21.9 s, RocksDB with
      // changelog checkpointing 19.3 s — none within 5% of a win. At fixture
      // scale every store holds a few KB, so the HDFS-backed provider's
      // in-memory map and tiny snapshot files are near-free, while RocksDB
      // pays a native open/flush/compact cycle per partition per micro-batch
      // whatever the state size. RocksDB (+changelog) pays off only once
      // per-partition state outgrows executor heap; that switch is one
      // session conf (spark.sql.streaming.stateStore.providerClass), no code.
      val q = stream.writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckptDir)
        .start()
      try {
        q.processAllAvailable()
        val ps = q.recentProgress.toSeq
        // recentProgress is a RING (spark.sql.streaming.numRecentProgressUpdates,
        // default 100): a drain with more micro-batches than the ring
        // would silently UNDERCOUNT inputRows — fail loudly instead
        val cap = spark.conf.get(
          "spark.sql.streaming.numRecentProgressUpdates", "100").toInt
        require(ps.length < cap,
          s"drain produced >= $cap micro-batches; recentProgress ring " +
            "overflowed and DrainStats would undercount — raise " +
            "spark.sql.streaming.numRecentProgressUpdates for this drain")
        DrainStats(
          ps.map(_.numInputRows).sum,
          ps.flatMap(_.stateOperators.toSeq).map(_.numRowsDroppedByWatermark).sum)
      } finally q.stop()
    }
  }

  /** Temp-dir variant: drain into `work/out`, then immediately delete the
    * checkpoint and any staged inputs (`alsoDelete`) — they are dead once
    * the drain finishes — and schedule the remaining sink files for
    * JVM-exit cleanup (the returned DataFrame reads them lazily, so they
    * must outlive the call). Without this, every invocation leaked a
    * staged copy of its input plus a checkpoint into the temp dir.
    */
  def toParquet(stream: DataFrame, work: Path, alsoDelete: Seq[Path] = Nil,
                shufflePartitions: Option[Int] = None): DataFrame =
    toParquetWithStats(stream, work, alsoDelete, shufflePartitions)._1

  /** [[toParquet]] plus the drain's [[DrainStats]]. */
  def toParquetWithStats(stream: DataFrame, work: Path, alsoDelete: Seq[Path] = Nil,
                         shufflePartitions: Option[Int] = None): (DataFrame, DrainStats) = {
    val outDir = work.resolve("out").toString
    val stats = run(stream, outDir, work.resolve("ckpt").toString, shufflePartitions)
    (work.resolve("ckpt") +: alsoDelete).foreach(deleteRecursively)
    cleanupAtExit(work)
    (stream.sparkSession.read.parquet(outDir), stats)
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(f =>
        try Files.deleteIfExists(f) catch { case _: java.io.IOException => () })
    }

  private val exitPaths = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()
  private lazy val hook: Thread = {
    val t = new Thread(() => {
      import scala.jdk.CollectionConverters._
      exitPaths.asScala.foreach(deleteRecursively)
    }, "graft-drain-cleanup")
    Runtime.getRuntime.addShutdownHook(t)
    t
  }

  /** Schedule `p` for recursive deletion at JVM exit — for artifacts a
    * lazily-evaluated DataFrame still reads, so they must outlive the
    * producing call but should not outlive the process.
    */
  def cleanupAtExit(p: Path): Unit = { hook; exitPaths.add(p); () }
}
