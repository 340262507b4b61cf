package perfbench

import graft.GraftSession

/** Fingerprints of query outputs that `graft.Verify` wrote as parquet, one
  * directory per query, printed as one JSON object. oracle.py records them
  * as the expected set once `tools/check.py` has passed the same outputs.
  *
  * Usage: OracleFingerprints --cpus N --dir VERIFY_OUT
  */
object OracleFingerprints {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spark = GraftSession.build(opts("cpus"))
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val dirs = new java.io.File(opts("dir")).listFiles().filter(_.isDirectory).sortBy(_.getName)
      println(dirs.map { d =>
        val (rows, hash) = Main.fingerprint(spark.read.parquet(d.getPath))
        s"""${Json.str(d.getName)}:{"rows":$rows,"hash":${Json.str(hash)}}"""
      }.mkString("{", ",", "}"))
    } finally spark.stop()
  }
}
