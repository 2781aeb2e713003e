package perfbench

import graft.GraftSession

/** Prints, one `name<TAB>hash` line each, the fold
  * ([[QueryWorkload.fold]]) of query outputs dumped by graft.Verify
  * (one parquet directory per query under the dump). pin.py writes
  * these into pins.json. */
object Pin {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: perfbench.Pin <dumpDir> <name,name,...>")
    val spark = GraftSession.create(4, Some("local[4]"), "perfbench-pin")
    spark.sparkContext.setLogLevel("WARN")
    val lines = args(1).split(",").toSeq.map { n =>
      s"$n\t${QueryWorkload.hash(QueryWorkload.fold(spark.read.parquet(s"${args(0)}/$n")).collect()(0))}"
    }
    spark.stop()
    lines.foreach(println)
  }
}
