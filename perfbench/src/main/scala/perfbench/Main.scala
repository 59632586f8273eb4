package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** JVM side of one benchmark run (run.py starts it and checks its output).
  *
  * {{{
  * Main --workload W --seed N --seconds S --trace 0|1 --cores K
  *      --inputs DIR --work DIR --out FILE [--spans FILE]
  * }}}
  *
  * Set-up runs three times, each on a fresh session (session start plus the
  * workload's own seeding); the last repetition's state is the one
  * measured. The workload's warm-up follows. The timed loop is a single
  * closed-loop client: the next op starts when the previous one returns,
  * until `S` seconds have passed and the workload calls its ops complete. The
  * traced run adds the span recorder and the listener, and writes the
  * spans and jobs it recorded to the `--spans` file at exit; the untraced
  * run has neither. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val inputs = Paths.get(a("inputs")).toAbsolutePath
    val work = Paths.get(a("work")).toAbsolutePath
    val reps = 3   // set-up repetitions; setup_s takes their median
    Files.createDirectories(work)

    val wl: Workload = name match {
      case "sync_poll" => new SyncPoll(inputs, work, warmPolls = 2)
      case "query_mix" => new QueryMix(QueryMix.Analytical ++ QueryMix.Llm, seed,
        inputs.toString, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    var spark: SparkSession = null
    val repMs = (1 to reps).map { r =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(cores, work)
      wl.prepare(spark, r)
      (System.nanoTime() - t0) / 1e6
    }
    val (_, warmMs) = Workload.time(wl.warmUp(new Ctx(spark, None)))

    val tracer = if (traced) Some(new Tracer(spark.sparkContext)) else None
    val ctx = new Ctx(spark, tracer)
    val ops = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
    val minOps = if (traced) wl.counterOps else 1
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var i = 0
    while ((System.nanoTime() < deadline || i < minOps || !wl.complete(ops.toSeq)) &&
        !wl.exhausted) {
      val rec = try wl.op(ctx, i) catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] op $i failed: $e")
          mutable.Map[String, Any]("name" -> s"op-$i", "ms" -> 0.0, "ok" -> false,
            "error" -> e.toString)
      }
      ops += rec
      i += 1
    }
    val loopMs = (System.nanoTime() - t0) / 1e6
    tracer.foreach(_.close())

    val check = wl.check(spark)
    val layers = tracer.map(t => wl.layers(t, ops.toSeq)).getOrElse(Map.empty)
    val selfMs = tracer.map(_.selfTimeMs).getOrElse(Map.empty)
    val ledger = tracer.map(t => opLedger(t, ops.toSeq)).getOrElse(Nil)
    tracer.foreach(t => writeSpans(t, Paths.get(a("spans"))))
    spark.stop()

    val out = Map(
      "workload" -> name, "seed" -> seed, "cores" -> cores, "traced" -> traced,
      "setup_rep_ms" -> repMs, "warmup_ms" -> warmMs, "loop_ms" -> loopMs,
      "ops" -> ops, "check" -> check, "layers" -> layers,
      "self_ms" -> selfMs, "ledger" -> ledger, "rss_peak_mb" -> rssPeakMb)
    Files.write(Paths.get(a("out")), Json.write(out).getBytes("UTF-8"))
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = graft.core.GraftSession.builder("perfbench", s"local[$cores]", cores)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def rssPeakMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  /** Engine work per timed op (its root span), keyed by entry name or by
    * poll index and kind: the input of compare.py's "work changed" vs
    * "wall only" verdicts. */
  private def opLedger(t: Tracer, ops: Seq[mutable.Map[String, Any]]): Seq[Map[String, Any]] =
    t.spans.filter(_.parent < 0).zip(ops).map { case (s, o) =>
      val c = Tracer.counters(t.jobsUnder(s.id))
      val key = o.get("poll").map(p => s"poll$p:${o("name")}")
        .getOrElse(o("name").toString)
      Map("op" -> key, "ms" -> s.durMs) ++
        Seq("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes")
          .map(k => k -> c(s"spark.$k"))
    }

  private def writeSpans(t: Tracer, p: Path): Unit = {
    val spans = t.spans.map(s => Map("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "dur_ms" -> s.durMs))
    val jobs = t.jobs.map(j => Map("id" -> j.id, "span" -> j.span,
      "call_site" -> j.callSite, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
      "stages" -> j.stages, "tasks" -> j.tasks,
      "shuffle_write_bytes" -> j.shuffleWrite, "output_bytes" -> j.output))
    Files.write(p, Json.write(Map("spans" -> spans, "jobs" -> jobs)).getBytes("UTF-8"))
  }
}
