package graft.tools

import graft.{Engine, Pin, SparkEntry}

/** Plan auditor: prints the formatted physical plan for the named queries
  * (default: headline set). Used to keep scan pushdown / broadcast / codegen
  * properties honest while iterating — see README "Scale design".
  *
  * Usage: graft.tools.Explain [sfDir] [name1,name2,...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names: Seq[String] =
      if (args.length > 1) args(1).split(",").toSeq
      else SparkEntry.registry.filter(_.headline).map(_.name)
    val spark = Engine.session("graft-explain")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      // in a scope, as the executors run it: reused frames print as their
      // cached subtrees, and building the plan runs no jobs
      Pin.scope(SparkEntry.queries(n)(spark, sfDir).explain("formatted"))
    }
    spark.stop()
  }
}
