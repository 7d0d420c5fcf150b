package graft.tools

import graft.{Engine, Pin, SparkEntry}

/** Ad-hoc probe for iterating on plans, over the named queries (default:
  * headline set). `explain` prints each formatted physical plan — used to
  * keep scan pushdown / broadcast / codegen properties honest, see README
  * "Scale design". `time` runs each through the noop sink `reps` times and
  * prints per-rep seconds; graft.Bench is the one-line metric.
  *
  * Usage: graft.tools.Probe <explain|time> <sfDir> [name1,name2,...] [reps]
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    if (!Set("explain", "time")(mode) || args.length < 2) {
      System.err.println("usage: graft.tools.Probe <explain|time> <sfDir> [name1,name2,...] [reps]")
      sys.exit(2)
    }
    val sfDir = args(1)
    val names: Seq[String] = args.lift(2).map(_.split(",").toSeq)
      .getOrElse(SparkEntry.registry.filter(_.headline).map(_.name))
    val reps = args.lift(3).map(_.toInt).getOrElse(3)
    val unknown = names.filterNot(SparkEntry.queries.keySet)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown queries: ${unknown.mkString(", ")}\n" +
        s"valid names: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val spark = Engine.session(s"graft-probe-$mode")
    names.foreach { n =>
      if (mode == "explain") {
        println(s"\n========== $n ==========")
        // in a query, as the executors run it: reused frames print as their
        // cached subtrees
        Pin.query(SparkEntry.queries(n)(spark, sfDir).explain("formatted"))
      } else {
        val times = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          Pin.query(SparkEntry.queries(n)(spark, sfDir)
            .write.format("noop").mode("overwrite").save())
          (System.nanoTime() - t0) / 1e9
        }
        println(f"$n%-28s ${times.map(t => f"$t%.3f").mkString(" ")}  min=${times.min}%.3f")
      }
    }
    spark.stop()
  }
}
