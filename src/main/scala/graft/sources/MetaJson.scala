package graft.sources

import org.apache.spark.sql.SparkSession

/** Driver-side JSON sidecar IO for KB-scale index metadata (shard
  * counts, LSH parameters, exact counters). Every persisted index
  * consults its meta on every build/append/delete/search; a one-row
  * parquet dataset paid a full Spark job (plan + schedule + commit
  * protocol) per consultation for O(1 ms) of actual work — the same
  * argument as the Snapshots `_files.json` manifest. Values are
  * integral (Long) by contract; floating state (centroids, codebooks)
  * stays parquet.
  */
object MetaJson {

  def write(spark: SparkSession, path: String, fields: Seq[(String, Long)]): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val body = fields
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val out = f.create(p, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  def read(spark: SparkSession, path: String): Map[String, Long] = {
    import org.json4s._
    val p = new org.apache.hadoop.fs.Path(path)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = f.open(p)
    val txt =
      try {
        val bytes = new Array[Byte](f.getFileStatus(p).getLen.toInt)
        in.readFully(bytes)
        new String(bytes, "UTF-8")
      } finally in.close()
    org.json4s.jackson.JsonMethods.parse(txt) match {
      case JObject(fs) => fs.collect { case (k, JInt(v)) => k -> v.toLong }.toMap
      case other => throw new IllegalStateException(
        s"malformed meta sidecar at $path: $other")
    }
  }
}
