package perfbench

import org.apache.spark.sql.SparkSession

/** One JVM per workload run. Writes the run's raw measurements as one
  * JSON object to `--result`; `perfbench/run.py` turns them into metrics.
  *
  * Arguments: --workload NAME --seed N --seconds S --trace 0|1
  * --data DIR --out DIR --result FILE --launch-ms EPOCH_MS, and by hand
  * --rate EVENTS_PER_S (streams) or --queries A,B,... (boards)
  */
object Main {
  val Cores = 4

  /** Heap in use after full GCs; the pause lets the context cleaner drop
    * what the first collection released. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val outDir = opt("out")
    val tracer = new Tracer(traced)
    val launchMs = opt("launch-ms").toDouble

    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .config("spark.local.dir", s"$outDir/local")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val result: Map[String, Any] = workload match {
      case "board_tail" | "board_heavy" =>
        val names = opt.get("queries").map(_.split(",").toSeq)
          .getOrElse(if (workload == "board_tail") Board.tail else Board.heavy)
        Board.run(spark, names, opt("data"), outDir, seed, seconds, tracer)
      case "svc_state" =>
        val rate = opt.get("rate").fold(Streams.StateRate)(_.toDouble)
        Streams.state(spark, seed, seconds, tracer, outDir, rate)
      case "svc_rpc" =>
        val rate = opt.get("rate").fold(Streams.RpcRate)(_.toDouble)
        Streams.rpc(spark, seed, seconds, tracer, outDir, rate)
      case other => sys.error(s"unknown workload $other")
    }
    if (traced) tracer.writeJsonl(s"$outDir/spans.jsonl")
    val line = Json.value(result ++ Map("workload" -> workload, "seed" -> seed,
      "launch_ms" -> launchMs))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("result")), line)
    spark.stop()
    // Stream execution and generator threads must not keep the JVM alive.
    System.exit(0)
  }
}
