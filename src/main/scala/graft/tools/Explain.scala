package graft.tools

/** Plan inspector: runMain graft.tools.Explain <sfDir> <queryName>...
  * The Spark analogue of the reference's Debug.PPrint plan printer
  * (reference src/qp/operators/Debug.java:79-121) plus its expected-cost
  * report (QueryMain.java:166-167) — Catalyst's formatted physical plan
  * shows operator tree, pushed filters, and chosen join strategies.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()
    args.drop(1).foreach { name =>
      println(s"===== $name =====")
      graft.SparkEntry.queries(name)(spark, args(0)).explain("formatted")
    }
    spark.stop()
  }
}
