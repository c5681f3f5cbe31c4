package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** Batch boards: passes over a fixed list of registered queries. Each
  * query is timed from outside in three regions — the registered
  * `SparkEntry.queries` closure (construct), `queryExecution.executedPlan`
  * (plan) and `queryExecution.toRdd.count` (run). GC and lease release
  * between queries fall outside the timed regions. A query that throws
  * is counted as failed and contributes no time.
  */
object Board {

  /** Construction-bound: of the 57 short registered queries (every
    * `q<N>_*`, `io_*`, `join_*` and `judge_*` row and 17 service-shaped
    * ones), those whose construct + plan time (schema inference on every
    * table read, eager writes and collects) is at least 55 % of their own
    * time and whose own time is at most 0.65 s, so no single query rules
    * the pass. Measured with `--queries` at 4 cores: see the README.
    */
  val tail: Seq[String] = Seq(
    "judge_bt", "judge_bt_convergence", "join_bloom_anti", "io_sharded_manifest",
    "io_roundtrip_orc", "io_roundtrip_jsonl", "typed_map", "retry_backoff_schedule",
    "dispatch_filter", "topk_orders", "json_props", "trace_fanout")

  /** Run-bound: text dedup kernels where execution is most of the pass. */
  val heavy: Seq[String] = Seq("dedup_containment", "text_repetition", "chat_dedup")

  /** After the cold pass, pass times keep falling for about five passes
    * (by a quarter to a third on board_tail, as the JIT settles), then
    * level off. */
  val WarmPasses = 6
  val MinPasses = 4

  final case class Sample(name: String, pass: Int, traced: Boolean,
                          construct: Double, plan: Double, run: Double)

  def run(spark: SparkSession, names: Seq[String], dataDir: String, outDir: String,
          seed: Long, seconds: Double, tracer: Tracer): Map[String, Any] = {
    val sc = spark.sparkContext
    val listener = if (tracer.on) Some(new LayerListener(tracer)) else None
    val fns = names.map(n => n -> SparkEntry.queries(n)).toMap
    def order(pass: Int): Seq[String] =
      new scala.util.Random(seed * 1000003L + pass).shuffle(names)

    def release(): Unit = {
      graft.ops.Caches.releaseAll()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }

    // Warm-up on the workload's own inputs, charged to setup_s. The first
    // warm pass also writes every result for the DuckDB twin compare, so
    // correctness is checked once per run, outside the timed passes.
    val warm = mutable.ArrayBuffer.empty[Double]
    val verifyFailures = mutable.ArrayBuffer.empty[Map[String, Any]]
    for (w <- 1 to WarmPasses) {
      val t0 = System.nanoTime()
      order(-w).foreach { n =>
        try {
          val df = fns(n)(spark, dataDir)
          if (w == 1) df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$n")
          else df.queryExecution.toRdd.count()
        } catch { case e: Throwable =>
          if (w == 1) verifyFailures += Map("name" -> n, "error" -> e.getClass.getName)
        } finally release()
      }
      warm += (System.nanoTime() - t0) / 1e9
    }
    val oracle = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      Json.value(oracle))

    val samples = mutable.ArrayBuffer.empty[Sample]
    val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
    var attempted = 0
    val firstOpMs = tracer.nowMs()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var pass = 0
    // At least MinPasses passes, so a slow run still takes its median over
    // several. Traced runs alternate listener-on and listener-off passes so
    // the run itself states the tracing overhead.
    while (pass < MinPasses || System.nanoTime() < deadline) {
      pass += 1
      val traced = listener.isDefined && pass % 2 == 1
      tracer.on = traced
      listener.foreach(l => if (traced) sc.addSparkListener(l) else sc.removeSparkListener(l))
      for (n <- order(pass)) {
        System.gc()
        attempted += 1
        val trace = tracer.newId()
        val qid = tracer.newId()
        val q0 = tracer.nowMs()
        try {
          var t0 = System.nanoTime()
          val df: DataFrame = tracer.span(sc, "queries.construct", qid, trace)(fns(n)(spark, dataDir))
          val c = (System.nanoTime() - t0) / 1e9
          t0 = System.nanoTime()
          tracer.span(sc, "plans.plan", qid, trace)(df.queryExecution.executedPlan)
          val p = (System.nanoTime() - t0) / 1e9
          t0 = System.nanoTime()
          tracer.span(sc, "ops.run", qid, trace)(df.queryExecution.toRdd.count())
          val r = (System.nanoTime() - t0) / 1e9
          samples += Sample(n, pass, traced, c, p, r)
        } catch {
          case e: Throwable =>
            failures += Map("name" -> n, "pass" -> pass, "error" -> e.getClass.getName,
              "message" -> String.valueOf(e.getMessage).take(300))
        } finally {
          tracer.record(qid, 0L, trace, "query", q0, tracer.nowMs())
          release()
        }
      }
    }
    listener.foreach(sc.removeSparkListener)
    tracer.on = listener.isDefined
    val measuredEnd = tracer.nowMs()

    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val liveHeapMb = Main.liveHeapMb()

    Map(
      "kind" -> "board",
      "queries" -> names,
      "warm_pass_s" -> warm.toList,
      "first_op_ms" -> firstOpMs,
      "measured_s" -> (measuredEnd - firstOpMs) / 1000.0,
      "attempted" -> attempted,
      "failures" -> failures.toList,
      "verify_failures" -> verifyFailures.toList,
      "live_heap_mb" -> liveHeapMb,
      "samples" -> samples.toList.map(s => Map("name" -> s.name, "pass" -> s.pass,
        "traced" -> s.traced, "construct" -> s.construct, "plan" -> s.plan, "run" -> s.run)),
      "layers" -> listener.map(_.counts.map { case (k, c) => k -> Map(
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "busy_ms" -> c.busyMs, "gc_ms" -> c.gcMs, "shuffle_read" -> c.shuffleRead,
        "shuffle_write" -> c.shuffleWrite, "spill" -> c.spill, "peak_mem" -> c.peakMem)
      }).getOrElse(Map.empty)
    )
  }
}
