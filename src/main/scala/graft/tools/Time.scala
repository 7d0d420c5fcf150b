package graft.tools

import graft.{Engine, Pin, SparkEntry}

/** Ad-hoc per-query timer for iterating on plans: runs the named queries
  * (default: headline set) through the noop sink `reps` times each and
  * prints per-rep seconds. Complements [[Explain]] (plans) and graft.Bench
  * (the driver's one-line metric).
  *
  * Usage: graft.tools.Time [sfDir] [name1,name2,...] [reps]
  */
object Time {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names: Seq[String] =
      if (args.length > 1) args(1).split(",").toSeq
      else SparkEntry.registry.filter(_.headline).map(_.name)
    val reps = if (args.length > 2) args(2).toInt else 3
    val unknown = names.filterNot(SparkEntry.queries.keySet)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown queries: ${unknown.mkString(", ")}\n" +
        s"valid names: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val spark = Engine.session("graft-time")
    names.foreach { n =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        Pin.scope(SparkEntry.queries(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save())
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$n%-28s ${times.map(t => f"$t%.3f").mkString(" ")}  min=${times.min}%.3f")
    }
    spark.stop()
  }
}
