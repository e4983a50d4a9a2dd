package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Driver-side JSON sidecar IO for KB-scale index metadata (shard
  * counts, LSH parameters, exact counters). Every persisted index
  * consults its meta on every build/append/delete/search; a one-row
  * parquet dataset paid a full Spark job (plan + schedule + commit
  * protocol) per consultation for O(1 ms) of actual work — the same
  * argument as the Snapshots `_files.json` manifest. Values are
  * integral (Long) by contract; floating state (centroids, codebooks)
  * stays parquet.
  *
  * [[writeText]] and [[readText]] are the one small-file writer and
  * reader: the meta files here and every [[Snapshots]] sidecar
  * (manifest, schema, txn, op, DV list, zone maps, Bloom filters).
  */
object MetaJson {

  def write(spark: SparkSession, path: String, fields: Seq[(String, Long)]): Unit =
    writeText(spark, path, fields
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}"), overwrite = true)

  def read(spark: SparkSession, path: String): Map[String, Long] = {
    import org.json4s._
    org.json4s.jackson.JsonMethods.parse(readText(spark, path)) match {
      case JObject(fs) => fs.collect { case (k, JInt(v)) => k -> v.toLong }.toMap
      case other => throw new IllegalStateException(
        s"malformed meta sidecar at $path: $other")
    }
  }

  /** Write `body` as the UTF-8 file `path`. With `overwrite = false` an
    * existing file fails the write — a commit's collision guard.
    */
  def writeText(spark: SparkSession, path: String, body: String,
      overwrite: Boolean): Unit = {
    val p = new Path(path)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(p, overwrite)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  /** The whole UTF-8 file `path`. */
  def readText(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = f.open(p)
    try {
      val bytes = new Array[Byte](f.getFileStatus(p).getLen.toInt)
      in.readFully(bytes)
      new String(bytes, "UTF-8")
    } finally in.close()
  }

  /** `xs` as a JSON array of strings, in the given order. */
  def stringArray(xs: Seq[String]): String =
    xs.map(x => "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      .mkString("[", ",", "]")
}
