package graft

/** Dev utility: print the formatted physical plan of one
  * `SparkEntry.queries` entry (plan-audit loop — the per-operator
  * "is this the plan I'd want at 100 TB" check).
  *
  * Usage: `sbt "runMain graft.ExplainCheck <query_name> [sfDir]"`.
  */
object ExplainCheck {
  def main(args: Array[String]): Unit = {
    val query = SparkEntry.select(Seq(args(0))).head._2
    val spark = Session.builder("8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    query(spark, dir).explain("formatted")
    spark.stop()
  }
}
