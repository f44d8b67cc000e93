package graftbench

import org.apache.spark.sql.SparkSession

/** Prints the fingerprint of every query result dumped by `graft.Verify`
  * into `<dumpDir>/<query>/`, one `name = rows:hash` line each, in the
  * format of `perfbench/expected.txt`. Run it on a dump that
  * `scripts/check.py` passed against the DuckDB oracle, so that every
  * expected value is the fingerprint of an oracle-checked result.
  *
  * Usage: graftbench.Expect <dumpDir> [name,name,...]
  */
object Expect {
  def main(args: Array[String]): Unit = {
    val dump = new java.io.File(args(0))
    val only = if (args.length > 1) args(1).split(",").toSet else Set.empty[String]
    val spark = Main.session(Runtime.getRuntime.availableProcessors(),
      new java.io.File(sys.props("java.io.tmpdir")).getAbsolutePath)
    val names = dump.listFiles().filter(_.isDirectory).map(_.getName).sorted
      .filter(n => only.isEmpty || only(n))
    names.foreach { n =>
      val (rows, hash) = Check.collect(Check.fingerprintFrame(spark.read.parquet(s"$dump/$n")))
      println(s"$n = $rows:$hash")
    }
    spark.stop()
  }
}
