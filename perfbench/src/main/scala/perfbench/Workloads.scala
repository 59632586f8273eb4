package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.sync.{AggMaintenance, SyncConfig, SyncEndpoint, SyncPipeline, SyncReport}

/** What a workload sees of the run: the session and, in a traced run, the
  * span recorder. Untraced runs pay nothing for `span`. */
final class Ctx(val spark: SparkSession, val tracer: Option[Tracer]) {
  def span[A](name: String)(body: => A): A = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }
}

/** One benchmark workload. `prepare` is the repeated part of set-up (run
  * once per set-up repetition, each on a fresh session); `warmUp` runs once
  * before the timed loop; `op(i)` is one closed-loop operation; `check`
  * runs after the timed loop and leaves on disk what the output checks
  * compare. An op record carries at least `name`, `ms` and `ok`. */
trait Workload {
  /** Ops the per-layer engine counters are taken over; a traced run runs at
    * least this many, so the counters cover identical work every run. */
  def counterOps: Int
  /** Whether the timed loop may stop after these ops (it also runs for the
    * whole `--seconds`). */
  def complete(ops: Seq[mutable.Map[String, Any]]): Boolean
  def prepare(spark: SparkSession, rep: Int): Unit
  def warmUp(ctx: Ctx): Unit
  /** No input left for another op (the poll plan is finite). */
  def exhausted: Boolean = false
  def op(ctx: Ctx, i: Int): mutable.Map[String, Any]
  def check(spark: SparkSession): Map[String, Any]
  def layers(t: Tracer, ops: Seq[mutable.Map[String, Any]]): Map[String, Double]
}

object Workload {
  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) graft.core.Tables.deleteRecursively(p.toFile)

  /** Data bytes and file count of a parquet directory (hidden `_`/`.`
    * files and sub-directories excluded). */
  def dataFiles(dir: Path): (Long, Int) = {
    val fs = Option(dir.toFile.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
    (fs.map(_.length).sum, fs.length)
  }

  /** Data bytes of every file under `dir` (hidden `_`/`.` files, such as
    * checksums, markers and parameter stamps, excluded). */
  def treeBytes(dir: Path): Long = {
    val files = Files.walk(dir)
    try files.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")
    }.map(Files.size).sum
    finally files.close()
  }

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Phase of each job of one sync run, from the repo file named in its
    * call site: SyncJob/SyncPipeline `count` is the extract and their other
    * jobs are T1 (dest MAX, source MIN/MAX and the schema reads behind
    * them). Merge jobs (ParquetMergeSink and the AQE stages of its queries)
    * before the first SQL execution that writes output are the novelty
    * probes; that execution and everything after it are the merge write. */
  def syncPhases(jobs: Seq[Tracer.Job]): Map[String, Double] = {
    val acc = mutable.Map("t1" -> 0.0, "extract" -> 0.0, "novelty" -> 0.0,
      "merge_write" -> 0.0)
    val writing = jobs.filter(_.output > 0).map(_.execId).toSet
    var wrote = false
    jobs.sortBy(_.id).foreach { j =>
      val (op, file) = j.site
      if (j.output > 0 || (j.execId >= 0 && writing(j.execId))) wrote = true
      val phase = file match {
        case "SyncJob" | "SyncPipeline" => if (op == "count") "extract" else "t1"
        case _ => if (wrote) "merge_write" else "novelty"
      }
      acc(phase) += j.durMs
    }
    acc.toMap
  }

  /** Engine counters per op over the first `n` op spans. */
  def perOpCounters(t: Tracer, n: Int): Map[String, Double] = {
    val roots = t.spans.filter(_.parent < 0).take(n)
    val js = roots.flatMap(r => t.jobsUnder(r.id))
    Tracer.counters(js).map { case (k, v) => k -> v / roots.size.max(1) }
  }
}

// ------------------------------------------------------------------ queries

/** `query_mix`: seeded-order passes over a fixed entry list.
  * Each op builds the entry's DataFrame, forces its physical plan, then
  * executes it into the noop sink. */
final class QueryMix(entries: Seq[String], seed: Long, sfDir: String,
                     work: Path) extends Workload {
  private val all = SparkEntry.queries
  private val oracle = SparkEntry.oracleSql
  entries.foreach(e => require(all.contains(e), s"unknown entry $e"))
  def counterOps: Int = entries.size
  /** Whole passes only, so every entry is sampled equally often, and at
    * least three, so p50 is the middle of one entry's three samples. */
  def complete(ops: Seq[mutable.Map[String, Any]]): Boolean =
    ops.size % entries.size == 0 && ops.size >= 3 * entries.size
  private def order(pass: Int): Seq[String] =
    new Random(seed * 1000003L + pass).shuffle(entries)

  def prepare(spark: SparkSession, rep: Int): Unit = ()

  private val warmMs = mutable.LinkedHashMap.empty[String, Double]

  /** Three warm-up passes. The first writes every result to `warm/<name>`,
    * which the output check compares with the DuckDB oracle (the cold
    * calls, which build any persisted index); the other two run the timed
    * path itself, because the JIT is still compiling after fewer: measured
    * on a 4-core host after one such pass, the next four passes took 6.2,
    * 5.7, 5.1 and 5.2 s. */
  def warmUp(ctx: Ctx): Unit = {
    entries.foreach(e =>
      warmMs(e) = Workload.time(write(ctx.spark, e, work.resolve("warm")))._2)
    (0 until 2 * entries.size).foreach(i => op(ctx, i))
  }

  private def write(spark: SparkSession, e: String, dir: Path): Unit =
    all(e)(spark, sfDir).coalesce(1).write.mode("overwrite")
      .parquet(dir.resolve(e).toString)

  def op(ctx: Ctx, i: Int): mutable.Map[String, Any] = {
    val name = order(i / entries.size)(i % entries.size)
    val t0 = System.nanoTime()
    ctx.span(QueryMix.layerOf(name)) {
      val (df, b) = Workload.time(ctx.span("build")(all(name)(ctx.spark, sfDir)))
      val (_, p) = Workload.time(ctx.span("plan")(df.queryExecution.executedPlan))
      val (_, x) = Workload.time(ctx.span("exec")(
        df.write.format("noop").mode("overwrite").save()))
      mutable.Map[String, Any]("name" -> name, "layer" -> QueryMix.layerOf(name),
        "build_ms" -> b, "plan_ms" -> p,
        "exec_ms" -> x, "ms" -> (System.nanoTime() - t0) / 1e6, "ok" -> true)
    }
  }

  /** Re-runs every entry into `check/<name>` in the warm state the timed
    * ops ran in (same session, reused persisted indexes), so the output
    * check covers the timed path, not only the cold warm-up calls. Also
    * measures the persisted indexes the entries keep under
    * `java.io.tmpdir`: their data bytes and the rows of their `hashes`
    * tables (one row per indexed item). */
  def check(spark: SparkSession): Map[String, Any] = {
    entries.foreach(e => write(spark, e, work.resolve("check")))
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val indexes = Option(tmp.toFile.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(d => d.getName.startsWith("graft-") && new java.io.File(d, "hashes").isDirectory)
    Map("oracle_sql" -> entries.flatMap(e => oracle.get(e).map(e -> _)).toMap,
      "entries" -> entries, "warmup_entry_ms" -> warmMs,
      "index_dirs" -> indexes.map(_.getName).toSeq,
      "index_bytes" -> indexes.map(d => Workload.treeBytes(d.toPath)).sum,
      "index_rows" -> indexes.map(d =>
        spark.read.parquet(new java.io.File(d, "hashes").toString).count()).sum)
  }

  /** `core.*` covers every entry's build call (the jobs inside it are the
    * `Tables` parquet schema reads); `queries.*` and `ext.*` average the
    * build, plan and execute calls of the entries of that layer. */
  def layers(t: Tracer, ops: Seq[mutable.Map[String, Any]]): Map[String, Double] = {
    val sp = t.spans
    val byId = sp.map(s => s.id -> s).toMap
    val buildJobs = sp.filter(_.name == "build").map(b => t.jobsUnder(b.id))
    def avg(layer: String, name: String) = Workload.mean(sp.filter(s =>
      s.name == name && byId.get(s.parent).exists(_.name == layer)).map(_.durMs))
    Map(
      "core.build_ms" -> Workload.mean(buildJobs.map(Tracer.coveredMs)),
      "core.build_jobs" -> Workload.mean(buildJobs.map(_.size.toDouble))) ++
      Seq("queries", "ext").flatMap(l => Seq("build", "plan", "exec")
        .map(n => s"$l.${n}_ms" -> avg(l, n))) ++
      Workload.perOpCounters(t, counterOps)
  }
}

object QueryMix {
  /** Read-only analytical entries (the `queries` layer): scalar, grouped
    * and distinct aggregates, a point filter, a range scan, a TPC-H-style
    * scan-aggregate, a semi-join, an epoch-ms interval join, a set
    * operation, the latest-per-key window and top-k. README.md gives the
    * reason for each and for the entries left out. The mix has 15 entries
    * so that p50 (position 7.5 of 15) and p90 (13.5 of 15) fall inside one
    * entry's samples, not on the boundary between two entries' samples,
    * where they read the maximum of one entry or the minimum of the next. */
  val Analytical: Seq[String] = Seq(
    "a1_max_watermark", "a4_grouped_sum", "a9_count_distinct", "f6_eq",
    "s1_range_scan", "j1_pricing_summary", "j4_semi_exists",
    "x3_duration_filter", "set1_union_except", "w1_latest_per_key", "o2_topk")

  /** LLM-data entries (the `ext` layer): native cosine top-k, the dHash
    * persisted-index probe, exact dedup and corpus word frequencies. */
  val Llm: Seq[String] = Seq(
    "e2c_cosine_topk_native", "e3i_dhash_index_probe", "e1_exact_dedup",
    "e4b_word_freq")

  def layerOf(entry: String): String =
    if (Llm.contains(entry)) "ext" else "queries"
}

// --------------------------------------------------------------------- sync

/** `sync_poll`: the continuous mode. Set-up bulk-loads the base table into
  * the mirror with one cold `SyncPipeline.run` and seeds the `user_balance`
  * rollup; each poll appends the plan's next batch (or nothing, on an idle
  * poll), runs one `SyncPipeline.run` and folds the same slice into
  * `user_balance` with `AggMaintenance.applySliceKeyed`. */
final class SyncPoll(inputs: Path, work: Path, warmPolls: Int) extends Workload {
  import SyncPoll._
  private val cfg = SyncConfig(Seq("id"), "updated")
  private val plan = Plan.load(inputs.resolve("plan.json"))
  private var root: Path = _
  private def source = root.resolve("source")
  private def mirror = root.resolve("mirror")
  private def balance = root.resolve("user_balance")
  private var storedHi = 0L
  private var next = 0
  /** Wall time of each set-up repetition's cold full sync (ms). */
  val seedSyncMs = mutable.ArrayBuffer.empty[Double]

  def counterOps: Int = 3
  /** At least four batch (non-idle) polls, the freshness samples, so p90
    * is not simply the slower of two; a failed poll ends the loop. */
  def complete(ops: Seq[mutable.Map[String, Any]]): Boolean =
    ops.count(_.get("idle").contains(false)) >= 4 || ops.exists(_("ok") == false)

  def prepare(spark: SparkSession, rep: Int): Unit = {
    if (root != null) Workload.deleteTree(root)
    root = work.resolve(s"poll-$rep")
    Files.createDirectories(source)
    Files.copy(inputs.resolve("source").resolve("part-base.parquet"),
      source.resolve("part-base.parquet"))
    next = 0
    seedSyncMs += Workload.time(SyncPipeline.run(spark, cfg,
      SyncEndpoint.ParquetDir(source.toString),
      SyncEndpoint.ParquetDir(mirror.toString)))._2
    storedHi = plan.ivmHi0
    AggMaintenance.applySliceKeyed(spark, balance.toString,
      spark.read.parquet(source.toString), "updated", Seq("id"),
      Seq("user_id"), "amount", plan.ivmLo, storedHi)
  }

  def warmUp(ctx: Ctx): Unit = (0 until warmPolls).foreach(_ => poll(ctx))

  override def exhausted: Boolean = next >= plan.polls.size

  def op(ctx: Ctx, i: Int): mutable.Map[String, Any] = ctx.span("poll")(poll(ctx))

  private def poll(ctx: Ctx): mutable.Map[String, Any] = {
    val p = plan.polls(next)
    next += 1
    val t0 = System.nanoTime()
    if (!p.idle) {
      val f = s"batch-${"%05d".format(p.poll)}.parquet"
      Files.copy(inputs.resolve("batches").resolve(f), source.resolve(f + ".tmp"))
      Files.move(source.resolve(f + ".tmp"), source.resolve(f),
        StandardCopyOption.ATOMIC_MOVE)
    }
    val r: SyncReport = ctx.span("sync")(SyncPipeline.run(ctx.spark, cfg,
      SyncEndpoint.ParquetDir(source.toString),
      SyncEndpoint.ParquetDir(mirror.toString)))
    val lo = storedHi
    val hi = if (p.idle) storedHi else p.hi
    val a = ctx.span("ivm")(AggMaintenance.applySliceKeyed(ctx.spark,
      balance.toString, ctx.spark.read.parquet(source.toString), "updated",
      Seq("id"), Seq("user_id"), "amount", lo, hi))
    storedHi = hi
    val ms = (System.nanoTime() - t0) / 1e6
    mutable.Map[String, Any]("name" -> (if (p.idle) "idle" else "batch"),
      "poll" -> p.poll, "idle" -> p.idle, "batch_rows" -> p.rows, "ms" -> ms,
      "ok" -> true, "rows" -> r.candidateRows, "written" -> r.rowsWritten,
      "groups_written" -> a.groupsWritten, "slice_rows" -> a.sliceRows)
  }

  def check(spark: SparkSession): Map[String, Any] = {
    val (bytes, files) = Workload.dataFiles(mirror)
    val rows = spark.read.parquet(mirror.toString).count()
    Map("root" -> root.toString, "polls_applied" -> next,
      "dest_bytes" -> bytes, "dest_files" -> files, "dest_rows" -> rows,
      "seed_sync_ms" -> seedSyncMs, "base_rows" -> plan.baseRows)
  }

  /** Per-layer numbers: each sync run split into phases by call site
    * (see [[Workload.syncPhases]]); the driver gap is the part of a sync run
    * no Spark job covers (listing, swap, sidecars, planning). */
  def layers(t: Tracer, ops: Seq[mutable.Map[String, Any]]): Map[String, Double] = {
    val syncs = t.spans.filter(_.name == "sync")
    val ivm = t.spans.filter(_.name == "ivm")
    val phases = syncs.map(s => Workload.syncPhases(t.jobsUnder(s.id)))
    def ph(k: String) = Workload.mean(phases.map(_(k)))
    def sumL(os: Seq[mutable.Map[String, Any]], k: String) =
      os.map(_(k).asInstanceOf[Long]).sum.toDouble
    val done = ops.filter(_("ok") == true)
    val (batches, idle) = done.partition(_("idle") == false)
    val seeded = Workload.median(seedSyncMs.toSeq)
    Map(
      "sync.seed_rows_per_s" -> plan.baseRows / (seeded / 1e3),
      "sync.t1_ms" -> ph("t1"), "sync.extract_ms" -> ph("extract"),
      "sync.novelty_ms" -> ph("novelty"), "sync.merge_write_ms" -> ph("merge_write"),
      "sync.driver_gap_ms" -> Workload.mean(syncs.map(s =>
        s.durMs - Tracer.coveredMs(t.jobsUnder(s.id)))),
      "sync.rows_written_per_row_applied" ->
        sumL(batches, "written") / sumL(batches, "batch_rows").max(1.0),
      "sync.idle_noop_share" ->
        (if (idle.isEmpty) 0.0
         else idle.count(_("written") == 0L).toDouble / idle.size),
      "sync.jobs_per_poll" -> Workload.mean(syncs.map(s => t.jobsUnder(s.id).size.toDouble)),
      "sync.dest_files" -> Workload.dataFiles(mirror)._2.toDouble,
      "ivm.apply_ms" -> Workload.mean(ivm.map(_.durMs)),
      "ivm.jobs_per_apply" -> Workload.mean(ivm.map(s => t.jobsUnder(s.id).size.toDouble)),
      "ivm.groups_written_per_slice_row" ->
        sumL(done, "groups_written") / sumL(done, "slice_rows").max(1.0)
    ) ++ Workload.perOpCounters(t, counterOps)
  }
}

object SyncPoll {
  final case class Poll(poll: Int, idle: Boolean, lo: Long, hi: Long, rows: Long)
  final case class Plan(baseRows: Long, ivmLo: Long, ivmHi0: Long,
                        polls: IndexedSeq[Poll])
  object Plan {
    /** plan.json as written by gen.py: flat objects of numbers/booleans. */
    def load(p: Path): Plan = {
      val s = new String(Files.readAllBytes(p), "UTF-8")
      def num(obj: String, k: String): Long =
        ("\"" + k + "\":\\s*(-?\\d+)").r.findFirstMatchIn(obj).get.group(1).toLong
      val polls = "\\{[^{}]*\"poll\"[^{}]*\\}".r.findAllIn(s).map { o =>
        Poll(num(o, "poll").toInt, o.contains("\"idle\": true"),
          num(o, "lo"), num(o, "hi"), num(o, "rows"))
      }.toIndexedSeq
      Plan(num(s, "base_rows"), num(s, "ivm_lo"), num(s, "ivm_hi0"), polls)
    }
  }
}
