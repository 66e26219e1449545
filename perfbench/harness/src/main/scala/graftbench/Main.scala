package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.GraftSession

/** Benchmark harness JVM. Runs one workload closed-loop for a fixed number
  * of passes and writes raw samples, the run context and (traced runs)
  * spans and per-layer metrics to `--out`; `perfbench/run.py` turns them
  * into the reported metrics and runs the DuckDB oracle over the written
  * outputs.
  *
  *   --kind batch|stream   --ops q05,q07,...|holt,kalman,...   --data <dir>
  *   --out <dir>  --seed n  --warmup n  --passes n  --trace 0|1
  *   [--slices n  --slices-per-pass n]   (stream)
  *
  * Traced runs interleave untraced and traced passes, so the tracing
  * overhead is measured in the same JVM.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = Runtime.getRuntime.availableProcessors
    val seed = a("seed").toLong
    val traced = a("trace") == "1"
    val out = a("out")
    val ops = a("ops").split(",").toSeq
    val master = s"local[$cores]"

    val spark = GraftSession.getOrCreate(master, cores)
    val wl: Workload = a("kind") match {
      case "batch" => new BatchWorkload(spark, a("data"), ops, seed)
      case "stream" => new StreamWorkload(spark, a("data"), ops,
        a("slices").toInt, a("slices-per-pass").toInt, seed, s"$out/checkpoints")
    }
    Log(f"session up at ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val staged = wl.stage()
    Log(f"inputs staged at ${(System.nanoTime() - t0) / 1e9}%.2f s")
    (1 to a("warmup").toInt).foreach(w => wl.pass(-w, None, _ => ()))
    val setupS = (System.nanoTime() - t0) / 1e9
    Log(f"setup done in $setupS%.2f s")

    val samples = mutable.ArrayBuffer.empty[OpSample]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val spans = mutable.ArrayBuffer.empty[Span]
    val timedStart = System.nanoTime()
    val rootId = Ids.next()
    (0 until a("passes").toInt).foreach { p =>
      val passId = Ids.next()
      // untraced, traced, traced, untraced, ...: a warm-up trend across the
      // passes then biases neither side of the tracing overhead
      val trace = if (traced && (p % 4 == 1 || p % 4 == 2)) Some(new PassTrace(spark, cores, passId).attach())
        else None
      val ps = System.nanoTime()
      wl.pass(p, trace, samples += _)
      val pe = System.nanoTime()
      val layers = trace.map { tr =>
        tr.detach()
        spans += Span(passId, rootId, "pass", ps, pe, Map("pass" -> p))
        spans ++= tr.allSpans
        tr.layers(ps, pe)
      }
      passes += Map("pass" -> p, "traced" -> trace.isDefined, "seconds" -> (pe - ps) / 1e9,
        "layers" -> layers)
      Log(f"pass $p${if (trace.isDefined) " (traced)" else ""}: ${(pe - ps) / 1e9}%.3f s")
    }
    val timedEnd = System.nanoTime()
    val peakRssMb = vmHwmMb()

    val checks = wl.check(out)
    val context = Map(
      "nproc" -> cores,
      "master" -> master,
      "seed" -> seed,
      "spark_version" -> spark.version,
      "spark_conf" -> spark.sparkContext.getConf.getAll.toMap
        .filter { case (k, _) => !k.startsWith("spark.app.") && !k.startsWith("spark.driver.") &&
          k != "spark.executor.id" }.toSeq.sorted.toMap,
      "sql_conf_set" -> spark.conf.getAll.filter { case (k, _) =>
        spark.sparkContext.getConf.getOption(k).isEmpty && k.startsWith("spark.sql.") &&
          !k.startsWith("spark.sql.warehouse") }.toSeq.sorted.toMap,
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "staged" -> staged)
    if (traced) {
      spans += Span(rootId, 0L, "workload", timedStart, timedEnd, Map("workload" -> a("kind")))
      val sb = new StringBuilder
      spans.sortBy(_.startNs).foreach { s =>
        sb ++= Json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
          "attrs" -> s.attrs)) += '\n'
      }
      Json.write(s"$out/spans.jsonl", sb.toString)
    }
    Json.write(s"$out/result.json", Json(Map(
      "setup_s" -> setupS,
      "peak_rss_mb" -> peakRssMb,
      "passes" -> passes,
      "ops" -> samples.map(s => Map("pass" -> s.pass, "name" -> s.name,
        "seconds" -> s.seconds, "ok" -> s.ok, "rows" -> s.rows)),
      "checks" -> checks,
      "context" -> context)))
    spark.stop()
  }

  /** The JVM's peak resident set (VmHWM), in MiB. */
  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
