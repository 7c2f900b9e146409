package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.algebra.Semigroup
import graft.batch.{BatchDriver, BatchStore}
import graft.client.ClientStore
import graft.time.BatchID

/** `batch_lambda`: the paper's core loop. Each iteration lands one daily
  * batch of Zipf-keyed events, runs one `BatchDriver.runIncremental` into
  * a key-clustered `BatchStore`, then serves a fixed burst of
  * `ClientStore.get` / `getBatch` reads that merge the new snapshot with
  * an online-delta table holding the next day's events.
  */
final class BatchLambda(spark: SparkSession, opts: Opts, tracer: Tracer)
    extends Workload(spark, opts, tracer) {
  import spark.implicits._

  private val nKeys = if (opts.tiny) 2000 else 150000
  private val perBatch = if (opts.tiny) 5000 else 200000
  private val zipf = new Zipf(nKeys, 1.0)
  private val getsPerBurst = if (opts.tiny) 2 else 4
  private val multiGetsPerBurst = if (opts.tiny) 1 else 2
  private val multiGetKeys = 32
  private val missShare = 0.1
  private val keyBuckets = 8
  // input streams of the generator
  private val EventStream = 1
  private val ReadStream = 2

  private var landing: String = _
  private var onlinePath: String = _
  private var store: BatchStore[Long, Long] = _
  private var online: Dataset[(Long, Long, Long)] = _
  /** The newest batch the store has committed; the online table holds the next. */
  private var committed = 0L

  private val batchCalls = mutable.ArrayBuffer.empty[Calls.Ref]
  private val gets = mutable.ArrayBuffer.empty[(Long, Long, Option[Long], Calls.Ref)]
  private val multiGets = mutable.ArrayBuffer.empty[(Long, Seq[Long], Map[Long, Long], Calls.Ref)]
  private val bytesPerKey = mutable.ArrayBuffer.empty[Double]
  private val filesPerSnapshot = mutable.ArrayBuffer.empty[Double]

  /** Generated events of the days landed but not yet committed. */
  private val pending = mutable.Map.empty[Long, Array[Gen.Event]]
  /** Keys present in the committed batches. */
  private val committedKeys = mutable.BitSet.empty

  private def dayEvents(day: Long): Array[Gen.Event] =
    pending.getOrElseUpdate(day,
      Gen.events(g(EventStream, day), zipf, perBatch, day, lateShare = 0.0, lateDays = 0))

  private def commit(day: Long): Unit = {
    committed = day
    pending.remove(day).foreach(_.foreach(e => committedKeys += e._2.toInt))
  }

  private def land(day: Long): Unit =
    dayEvents(day).toSeq.toDF("ts_ms", "key", "value")
      .write.parquet(s"$landing/batch_id=$day")

  /** The user pipeline `runIncremental` runs over the planned batches. */
  private def pipeline(input: DataFrame): Dataset[(Long, Long, Long)] =
    input.groupBy(col("key"), col("batch_id")).agg(sum(col("value")).as("v"))
      .select(col("key"), col("batch_id").cast("long"), col("v"))
      .as[(Long, Long, Long)]

  /** Rewrites the online-delta table: per-key sums of `day`'s events, as
    * the streaming layer would have emitted them.
    */
  private def writeOnline(day: Long): Unit = {
    val sums = mutable.HashMap.empty[Long, Long]
    dayEvents(day).foreach { case (_, k, v) => sums(k) = sums.getOrElse(k, 0L) + v }
    sums.toSeq.map { case (k, v) => (k, day, v) }.toDF("key", "batch", "value")
      .write.mode("overwrite").parquet(onlinePath)
    online = spark.read.parquet(onlinePath).as[(Long, Long, Long)]
  }

  private def runBatch(upTo: Long): BatchDriver.Result =
    BatchDriver.runIncremental(spark, landing, store, BatchID(upTo))(pipeline)(
      Semigroup.longSemigroup, implicitly, implicitly)

  private def get(key: Long): Option[Long] =
    ClientStore.get(spark, store, online, key)(Semigroup.longSemigroup, implicitly, implicitly)

  private def getBatch(keys: Seq[Long]): Map[Long, Long] =
    ClientStore.getBatch(spark, store, online, keys)(Semigroup.longSemigroup, implicitly, implicitly)

  def setup(dir: Path): Unit = {
    Files.createDirectories(dir)
    landing = dir.resolve("landing").toString
    onlinePath = dir.resolve("online").toString
    store = new BatchStore[Long, Long](dir.resolve("store").toString, keyBuckets = Some(keyBuckets))
    pending.clear()
    committedKeys.clear()
    land(0L)
    land(1L)
  }

  /** Two cycles: the first commits into the empty store, the second is
    * the first merge into an existing snapshot, a path of its own.
    */
  def warmUp(): Unit = {
    runBatch(0L)
    commit(0L)
    land(2L)
    runBatch(1L)
    commit(1L)
    writeOnline(2L)
    get(0L)
    getBatch(Seq(0L, 1L))
  }

  private def readKey(rg: Gen): Long =
    if (rg.nextDouble() < missShare) nKeys.toLong + rg.nextInt(nKeys)
    else zipf.sample(rg).toLong

  val roundsPer10s = 3
  val parts = 2

  def step(round: Long, part: Int): Unit =
    if (part == 0) write(round) else read(round)

  /** Lands the next day, commits the day before it, and rewrites the
    * online table from the landed day.
    */
  private def write(request: Long): Unit = {
    val day = committed + 1
    land(day + 1)
    calls.time("batch")(tracer.span("batch.run_incremental", request)(runBatch(day))) match {
      case Some((BatchDriver.Ran(_, hi), ref)) if hi.id == day =>
        batchCalls += ref
        commit(day)
        if (tracer.active) recordLayout()
      case Some((other, ref)) =>
        calls.failCall(ref, s"runIncremental(upTo=$day) returned $other")
        return
      case None => return
    }
    writeOnline(day + 1)
  }

  /** A fixed burst of point and multi-key reads. */
  private def read(request: Long): Unit = {
    val day = committed
    val rg = g(ReadStream, day)
    (1 to getsPerBurst).foreach { i =>
      val k = readKey(rg)
      calls.time("get")(tracer.span("client.get", request)(get(k))).foreach { case (v, ref) =>
        gets += ((day + 1, k, v, ref))
      }
      if (i % (getsPerBurst / multiGetsPerBurst) == 0) {
        val ks = Seq.fill(multiGetKeys)(readKey(rg)).distinct
        calls.time("get_batch")(tracer.span("client.get_batch", request)(getBatch(ks))).foreach { case (m, ref) =>
          multiGets += ((day + 1, ks, m, ref))
        }
      }
    }
  }

  /** Layout of the snapshot just committed. */
  private def recordLayout(): Unit = {
    val snap = java.nio.file.Paths.get(store.snapshotDir(BatchID(committed)))
    val files = {
      val s = Files.walk(snap)
      try s.filter(_.toString.endsWith(".parquet")).count()
      finally s.close()
    }
    bytesPerKey += Main.du(snap).toDouble / committedKeys.size
    filesPerSnapshot += files.toDouble
  }

  def check(): Unit = {
    val landed = spark.read.parquet(landing)
    // every served read against a plain groupBy over the generated events
    val keys = (gets.map(_._2) ++ multiGets.flatMap(_._2)).distinct
    val perKeyDay: Map[Long, Seq[(Long, Long)]] =
      if (keys.isEmpty) Map.empty
      else landed.where(col("key").isin(keys.toSeq: _*))
        .groupBy(col("key"), col("batch_id").cast("long").as("day"))
        .agg(sum(col("value")).as("v"))
        .as[(Long, Long, Long)].collect().toSeq
        .groupBy(_._1).map { case (k, rows) => k -> rows.map(r => (r._2, r._3)) }
    val corrupt = if (opts.corruptReference) keys.headOption else None
    def reference(key: Long, upTo: Long): Option[Long] = {
      val rows = perKeyDay.getOrElse(key, Nil).filter(_._1 <= upTo)
      val base = if (rows.isEmpty) None else Some(rows.map(_._2).sum)
      if (corrupt.contains(key)) Some(base.getOrElse(0L) + 1) else base
    }
    gets.foreach { case (upTo, k, got, ref) =>
      val want = reference(k, upTo)
      if (got != want) calls.failCall(ref, s"get($k) through batch $upTo = $got, reference $want")
    }
    multiGets.foreach { case (upTo, ks, got, ref) =>
      val want = ks.flatMap(k => reference(k, upTo).map(k -> _)).toMap
      if (got != want) calls.failCall(ref,
        s"getBatch through batch $upTo differs from the reference on " +
          s"${(got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))} keys")
    }
    // the final snapshot against the reference over every committed batch
    store.readLast(spark) match {
      case Some((b, snap)) =>
        val ref = landed.where(col("batch_id") <= b.id)
          .groupBy(col("key")).agg(sum(col("value")).as("v"))
        val got = snap.toDF("key", "v")
        val diff = got.exceptAll(ref).count() + ref.exceptAll(got).count()
        if (diff != 0 || b.id != committed)
          batchCalls.lastOption.foreach(calls.failCall(_,
            s"snapshot at batch ${b.id} differs from the reference on $diff rows"))
      case None => calls.fail("store has no snapshot")
    }
  }

  def endToEnd(): Seq[Metric] = Seq(
    Metric("write_call_p50_ms", Calls.median(calls.ms("batch")), "ms"),
    Metric("read_call_p50_ms", Calls.median(calls.ms("get")), "ms"),
    Metric("read2_call_p50_ms", Calls.median(calls.ms("get_batch")), "ms"))

  def layerMetrics(): Seq[Metric] = Seq(
    Metric("batch.store.bytes_per_key", Calls.median(bytesPerKey.toSeq), "B"),
    Metric("batch.store.files_per_snapshot", Calls.median(filesPerSnapshot.toSeq), "count"),
    Metric("client.get.hit_ratio",
      if (gets.isEmpty) 0.0 else gets.count(_._3.isDefined).toDouble / gets.size, "ratio"))

  def info(): Seq[(String, Any)] = Seq("keys" -> nKeys, "events_per_batch" -> perBatch,
    "zipf_s" -> 1.0, "miss_share" -> missShare, "key_buckets" -> keyBuckets,
    "gets_per_burst" -> getsPerBurst, "get_batches_per_burst" -> multiGetsPerBurst,
    "keys_per_get_batch" -> multiGetKeys, "batches_committed" -> committed)
}
