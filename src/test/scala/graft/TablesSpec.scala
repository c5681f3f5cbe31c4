package graft

import java.util.concurrent.ConcurrentLinkedQueue

import graft.ops.Tables
import graft.queries.Queries
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, TimestampType}

import scala.jdk.CollectionConverters._

/** The schema catalog ([[graft.ops.Tables]]): a table read runs no Spark
  * job once its schema is catalogued, and the catalog is never stale —
  * a rewrite in place, a changed ts encoding or a changed schema conf
  * re-infers on the next read.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private val TagProp = "graft.spec.jobTag"

  /** Run `body` and count the Spark jobs it started on this thread. A
    * tagged barrier job runs after it: the listener bus delivers events
    * in order, so once the barrier is seen every job of `body` has been
    * counted.
    */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val barrier = s"$tag-barrier"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(TagProp))).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(TagProp, tag)
      val out = try body finally sc.setLocalProperty(TagProp, null)
      sc.setLocalProperty(TagProp, barrier)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(TagProp, null)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.contains(barrier) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(barrier), "the listener never saw the barrier job")
      (out, seen.asScala.count(_ == tag))
    } finally sc.removeSparkListener(listener)
  }

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("a catalogued read runs no job; a rewrite in place with an added column shows it") {
    val path = s"${tmpDir("graft_tables")}/t.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.mode("overwrite").parquet(path)

    val (cold, coldJobs) = jobsDuring(Tables.read(spark, path).schema)
    assert(cold.fieldNames.toSeq === Seq("id", "s"))
    assert(coldJobs > 0, "the first read infers the schema")
    val (warm, warmJobs) = jobsDuring(Tables.read(spark, path).schema)
    assert(warm === cold)
    assert(warmJobs === 0, "a catalogued read must run no Spark job")

    Seq((3L, "c", 30)).toDF("id", "s", "n").write.mode("overwrite").parquet(path)
    val after = Tables.read(spark, path)
    assert(after.schema.fieldNames.toSeq === Seq("id", "s", "n"))
    assert(after.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq ===
      Seq((3L, "c", 30)))
  }

  /** Write one parquet file of message type `schema` through parquet-mr
    * directly: no Spark schema in the footer, so inference goes by the
    * parquet types and the session's parquet confs alone, as for files
    * other engines write.
    */
  private def writeRaw(file: String, schema: String)(rows: SimpleGroupFactory => Seq[Group]): Unit = {
    val messageType = org.apache.parquet.schema.MessageTypeParser.parseMessageType(schema)
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file))
      .withType(messageType)
      .withConf(spark.sparkContext.hadoopConfiguration)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    try rows(new SimpleGroupFactory(messageType)).foreach(writer.write) finally writer.close()
  }

  test("a schema-affecting parquet conf re-infers the same files") {
    val path = s"${tmpDir("graft_tables_conf")}/b.parquet"
    writeRaw(path, "message t { required int64 id; required binary b; }") { f =>
      Seq(f.newGroup().append("id", 1L).append("b", "x"))
    }
    val key = "spark.sql.parquet.binaryAsString"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(Tables.read(spark, path).schema("b").dataType === BinaryType)
      spark.conf.set(key, "true")
      val asString = Tables.read(spark, path)
      assert(asString.schema("b").dataType === StringType)
      assert(asString.select("b").as[String].collect().toSeq === Seq("x"))
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** One events file with `ts` as INT64 in `unit` (NANOS or MICROS, not
    * UTC-adjusted): the two encodings the generator has used. */
  private def writeEvents(file: String, unit: String, micros: Seq[Long]): Unit =
    writeRaw(file, s"message events { required int64 event_id; " +
        s"required int64 ts (TIMESTAMP($unit,false)); }") { f =>
      micros.zipWithIndex.map { case (us, i) =>
        f.newGroup().append("event_id", i.toLong)
          .append("ts", if (unit == "NANOS") us * 1000L else us)
      }
    }

  test("an events file rewritten between nanos and micros ts normalizes to one timestamp") {
    val dir = tmpDir("graft_tables_ts")
    val micros = Seq(1704067200000000L, 1704067201000123L, 1706745600999999L)
    def read(): (org.apache.spark.sql.types.DataType, Seq[Long]) = {
      val df = Queries.t(spark, dir, "events")
      (df.schema("ts").dataType,
        df.orderBy("event_id").select(unix_micros(col("ts"))).as[Long].collect().toSeq)
    }
    for (unit <- Seq("NANOS", "MICROS", "NANOS")) {
      writeEvents(s"$dir/events.parquet", unit, micros)
      assert(read() === ((TimestampType, micros)), s"after rewriting as $unit")
      // the sniff saw this file's encoding, not the previous one's
      val raw = Tables.read(spark, s"$dir/events.parquet").schema("ts").dataType
      assert((unit == "NANOS") === (raw == LongType), s"$unit file read as $raw")
    }
  }

  /** Fixture tables with the columns the four queries below touch. */
  private def writeBoardTables(dir: String): Unit = {
    spark.range(40).selectExpr("id AS event_id",
        "timestamp_ntz'2024-01-01 00:00:00' + make_dt_interval(0, 0, 0, id) AS ts",
        "id % 7 AS user_id",
        "element_at(array('view', 'purchase', 'error'), cast(id % 3 AS INT) + 1) AS event_type",
        "cast(id AS DOUBLE) / 4 AS value", "'{}' AS props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    spark.range(30).selectExpr("id AS o_orderkey", "id % 5 AS o_custkey",
        "cast(id * 37 % 101 AS DOUBLE) AS o_totalprice",
        "timestamp_ntz'1995-01-01 00:00:00' + make_dt_interval(id, 0, 0, 0) AS o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
  }

  test("with a warm catalog, building single-table queries and reading .schema runs no job") {
    val dir = tmpDir("graft_tables_board")
    writeBoardTables(dir)
    val names = Seq("typed_map", "dispatch_filter", "topk_orders", "trace_fanout")
    val byName = Queries.all.map(q => q.name -> q).toMap
    names.foreach(n => byName(n).spark(spark, dir).schema)   // warm the catalog
    val perQuery = names.map { n =>
      val (schema, jobs) = jobsDuring(byName(n).spark(spark, dir).schema)
      assert(schema.nonEmpty)
      n -> jobs
    }
    assert(perQuery.forall(_._2 == 0), s"construct-time jobs per query: $perQuery")
  }
}
