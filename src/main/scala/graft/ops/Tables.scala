package graft.ops

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one plain parquet table-read path: a schema catalog keyed by the
  * table's qualified path.
  *
  * `spark.read.parquet(p)` infers the schema from the files' footers,
  * and each inference is its own Spark job (120-200 ms on a 4-core box,
  * whatever the table's size). Supplying the schema
  * (`spark.read.schema(s).parquet(p)`) lists the files but runs no job.
  * [[read]] infers once and then serves the recorded schema for as long
  * as nothing that decides the inferred schema has changed:
  *  - the data itself, as [[PqIndex.dataFingerprint]] (path, length and
  *    mtime of every file) — a table regenerated or rewritten in place
  *    re-infers on its next read;
  *  - the session's parquet confs that change what inference returns for
  *    the same files ([[SchemaConfs]]).
  *
  * The catalog holds one entry per path (a rewrite replaces it, so it
  * stays bounded by the number of distinct tables read) and schemas only:
  * never DataFrames or results, so [[Caches.releaseAll]] has nothing to
  * release here and does not clear it. Reads that WANT inference — a
  * `mergeSchema` read across snapshots — call Spark directly.
  */
object Tables {

  /** Parquet confs that change the inferred schema of unchanged files. */
  private val SchemaConfs: Seq[String] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  private final case class Entry(fingerprint: String, confs: Seq[Option[String]],
                                 schema: StructType)

  private val catalog = new ConcurrentHashMap[String, Entry]()

  /** Parquet table at `path`, read with its catalogued schema; infers
    * (one Spark job) only on the first read or after the data or a
    * [[SchemaConfs]] value changed.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val key = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toString
    // fingerprint BEFORE inferring: a rewrite racing the inference then
    // leaves an entry under the old fingerprint, which the next read
    // rejects, never a stale schema under the new one
    val fingerprint = PqIndex.dataFingerprint(spark, path)
    val confs = SchemaConfs.map(spark.conf.getOption)
    val hit = catalog.get(key)
    if (hit != null && hit.fingerprint == fingerprint && hit.confs == confs)
      spark.read.schema(hit.schema).parquet(path)
    else {
      val df = spark.read.parquet(path)
      catalog.put(key, Entry(fingerprint, confs, df.schema))
      df
    }
  }
}
