package graftbench

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{SparkEntry, Tables}
import graft.ops.{SharedState, TimeSeries}
import graft.streaming.{HoltStream, KalmanStream, SensorReading}

/** One timed operation: a batch query or a micro-batch. */
final case class OpSample(pass: Int, name: String, seconds: Double, ok: Boolean,
                          rows: Long = 0L)

/** A closed-loop workload with one client: each operation starts when the
  * previous one returns. `pass` runs the whole mix once.
  */
trait Workload {
  /** Load what the timed operations need; returns staged row counts. */
  def stage(): Map[String, Long]
  def pass(p: Int, trace: Option[PassTrace], record: OpSample => Unit): Unit
  /** Untimed correctness gate, run after timing. */
  def check(outDir: String): Map[String, Any]
}

private object Log {
  def apply(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

/** Batch queries from `SparkEntry.queries`. The timed operation runs from
  * the call into the query function to the last row written to the `noop`
  * sink, so every output column and the final ORDER BY are computed —
  * unlike `.count()`, which Catalyst prunes down to the plan's keys.
  */
final class BatchWorkload(spark: SparkSession, dataDir: String,
                          prefixes: Seq[String], seed: Long) extends Workload {
  private val sc = spark.sparkContext
  val mix: Seq[(String, (SparkSession, String) => DataFrame)] = prefixes.map { p =>
    val hits = SparkEntry.queries.keys.filter(k => k == p || k.startsWith(p + "_")).toSeq
    require(hits.size == 1, s"query '$p' matches ${hits.size} queries")
    hits.head -> SparkEntry.queries(hits.head)
  }

  def stage(): Map[String, Long] = Map("queries" -> mix.size.toLong)

  /** The seed orders the mix, which decides which consumer of a shared
    * build (`SharedState`) pays for it; every pass starts from a cleared
    * registry, so nothing is served from an earlier pass. Every pass of a
    * run keeps that order, so the passes of a run repeat one another.
    */
  private val order = new Random(seed).shuffle(mix)

  def pass(p: Int, trace: Option[PassTrace], record: OpSample => Unit): Unit = {
    SharedState.clear()
    order.foreach { case (name, fn) =>
      val id = Ids.next()
      sc.setJobGroup(id.toString, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      var t1 = 0L
      val ok = try {
        val df = fn(spark, dataDir)
        t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        true
      } catch {
        case NonFatal(e) => Log(s"$name failed: $e"); false
      } finally sc.clearJobGroup()
      val t2 = System.nanoTime()
      if (t1 == 0L) t1 = t2
      trace.foreach { tr =>
        tr.add(Span(id, tr.passId, "query", t0, t2, Map("query" -> name)))
        tr.add(Span(Ids.next(), id, "ops.build", t0, t1))
        tr.add(Span(Ids.next(), id, "action", t1, t2))
      }
      record(OpSample(p, name, (t2 - t0) / 1e9, ok))
      Log(f"pass $p $name ${(t2 - t0) / 1e9}%.3f s (build ${(t1 - t0) / 1e9}%.3f s)")
    }
  }

  /** Writes each query's output once, with its oracle SQL, for the DuckDB
    * comparison the caller runs.
    */
  def check(outDir: String): Map[String, Any] = {
    SharedState.clear()
    val errors = mix.flatMap { case (name, fn) =>
      try {
        fn(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        if (SparkEntry.oracleSql.contains(name)) None else Some(name -> "no oracle SQL")
      } catch { case NonFatal(e) => Some(name -> e.toString) }
    }.toMap
    val oracle = mix.map(_._1).flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    Json.write(s"$outDir/oracle_sql.json", Json(oracle))
    Map("queries" -> mix.map(_._1), "errors" -> errors)
  }
}

/** The streaming twins replaying the events table as `SensorReading`s keyed
  * by `user_id`. The table is cut into `nSlices` event-time slices whose
  * boundaries the seed jitters; each twin runs as one long-lived query
  * started during set-up, and every pass feeds the next `perPass` slices
  * to every twin, so passes walk forward through event time. A run may
  * feed at most `nSlices` slices, warm-up passes included. The timed
  * operation is one micro-batch: `MemoryStream.addData(slice)` to the
  * return of `processAllAvailable()`, the twin writing to `noop`.
  */
final class StreamWorkload(spark: SparkSession, dataDir: String, twins: Seq[String],
                           nSlices: Int, perPass: Int, seed: Long,
                           ckptRoot: String) extends Workload {
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  private var slices: IndexedSeq[Array[SensorReading]] = IndexedSeq.empty
  private var running: Seq[(String, MemoryStream[SensorReading], StreamingQuery)] = Nil
  private val fed = mutable.ArrayBuffer.empty[Array[SensorReading]] // slices, in order
  private var cursor = 0

  private def micros(r: SensorReading): Long =
    Math.floorDiv(r.ts.getTime, 1000L) * 1000000L + r.ts.getNanos / 1000L

  def stage(): Map[String, Long] = {
    // transformWithState keeps its state in RocksDB
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val rows = Tables.events(spark, dataDir)
      .select(col("user_id").cast("string").as("event_type"), col("event_id"),
        col("ts"), col("value"))
      .as[SensorReading].collect().sortBy(r => (micros(r), r.event_id))
    // slices stay in event-time order, so no reading is ever behind the
    // watermark; each boundary moves by up to a quarter of a slice
    val rng = new Random(seed)
    val step = rows.length.toDouble / nSlices
    val cuts = (1 until nSlices).map(i => ((i + (rng.nextDouble() - 0.5) / 2) * step).toInt)
    slices = (0 +: cuts :+ rows.length).sliding(2).map(b => rows.slice(b(0), b(1))).toIndexedSeq
    running = twins.map { twin =>
      val mem = MemoryStream[SensorReading]
      val q = plan(twin, mem.toDS()).writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", s"$ckptRoot/$twin").start()
      (twin, mem, q)
    }
    Map("readings" -> rows.length.toLong, "slices" -> slices.size.toLong,
      "keys" -> rows.map(_.event_type).distinct.length.toLong)
  }

  private def plan(twin: String, ds: Dataset[SensorReading]): DataFrame = twin match {
    case "holt" => HoltStream.run(ds).toDF()
    case "kalman" => KalmanStream.run(ds).toDF()
  }

  private def nextSlice(): Array[SensorReading] = {
    require(cursor < slices.size, s"the replay has ${slices.size} slices and a run feeds " +
      "each at most once: run fewer warm-up or timed passes")
    cursor += 1
    slices(cursor - 1)
  }

  def pass(p: Int, trace: Option[PassTrace], record: OpSample => Unit): Unit =
    (1 to perPass).foreach { _ =>
      val s = nextSlice()
      fed += s
      running.foreach { case (twin, mem, q) =>
        val id = Ids.next()
        val b0 = System.nanoTime()
        mem.addData(s.toSeq: _*)
        val b1 = System.nanoTime()
        val ok = try { q.processAllAvailable(); true }
          catch { case NonFatal(e) => Log(s"$twin failed: $e"); false }
        val b2 = System.nanoTime()
        trace.foreach { tr =>
          tr.registerRun(q.runId.toString, tr.passId)
          tr.add(Span(id, tr.passId, "micro_batch", b0, b2, Map("twin" -> twin, "rows" -> s.length)))
          tr.add(Span(Ids.next(), id, "add_data", b0, b1))
          tr.add(Span(Ids.next(), id, "action", b1, b2))
        }
        record(OpSample(p, twin, (b2 - b0) / 1e9, ok, s.length))
      }
    }

  /** Stops the timed queries and replays the slices they were fed, in order
    * and one micro-batch per slice, into fresh twins writing to memory
    * sinks, so per-key state is restored and committed between batches as
    * in the timed run. Each key's last snapshot is then compared with the
    * twin's batch fold over the same rows, exactly, as the twins' own specs
    * do.
    */
  def check(outDir: String): Map[String, Any] = {
    running.foreach(_._3.stop())
    val replays = twins.map { twin =>
      val mem = MemoryStream[SensorReading]
      val q = plan(twin, mem.toDS()).writeStream.format("memory").queryName(s"parity_$twin")
        .outputMode("append").option("checkpointLocation", s"$outDir/ckpt-parity_$twin").start()
      (mem, q)
    }
    // the twins are independent queries: feed every one, then wait for all
    val replayError = try {
      fed.foreach { s =>
        replays.foreach(_._1.addData(s.toSeq: _*))
        replays.foreach(_._2.processAllAvailable())
      }
      None
    } catch { case NonFatal(e) => Some(e.toString) }
    finally replays.foreach(_._2.stop())
    def failed(e: String): Map[String, Any] = Map("ok" -> false, "mismatches" -> Seq(e))
    twins.map { twin =>
      twin -> replayError.map(failed).getOrElse {
        try parity(twin) catch { case NonFatal(e) => failed(e.toString) }
      }
    }.toMap
  }

  private def parity(twin: String): Map[String, Any] = {
    val got = spark.table(s"parity_$twin").collect()
    // the batch folds key on event_type, which here carries the user id
    val batchIn = fed.toSeq.flatten.map(r => (r.event_id, r.ts, 1L, r.event_type, r.value))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val batch = twin match {
      case "holt" => TimeSeries.holtLinear(batchIn)
      case "kalman" => TimeSeries.kalman1d(batchIn)
    }
    val mismatches = compare(got, batch.collect(), "event_type")
    Map("ok" -> mismatches.isEmpty, "keys" -> got.map(_.getAs[Any]("event_type")).distinct.length,
      "slices" -> fed.size, "mismatches" -> mismatches.take(3))
  }

  /** Last stream row per key against the batch row of that key, on every
    * column the two share; values must be equal (doubles bit for bit).
    */
  private def compare(got: Array[Row], batch: Array[Row], key: String): Seq[String] = {
    val last = got.zipWithIndex.groupBy(_._1.getAs[String](key))
      .map { case (k, rs) => k -> rs.maxBy(_._2)._1 }
    val want = batch.map(r => r.getAs[String](key) -> r).toMap
    val keyDiff =
      if (last.keySet == want.keySet) Nil
      else Seq(s"keys: stream=${last.size} batch=${want.size} " +
        s"only-stream=${(last.keySet -- want.keySet).take(3)} only-batch=${(want.keySet -- last.keySet).take(3)}")
    val cols = got.headOption.map(_.schema.fieldNames.toSeq).getOrElse(Nil)
      .filter(c => c != key && batch.headOption.exists(_.schema.fieldNames.contains(c)))
    keyDiff ++ last.toSeq.sortBy(_._1).flatMap { case (k, s) =>
      want.get(k).toSeq.flatMap { b =>
        cols.filter(c => s.getAs[Any](c) != b.getAs[Any](c))
          .map(c => s"$k.$c stream=${s.getAs[Any](c)} batch=${b.getAs[Any](c)}")
      }
    }
  }
}
