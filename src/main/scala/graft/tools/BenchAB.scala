package graft.tools

import graft.SparkEntry

/** Same-window interleaved A/B harness: time one query under two runtime
  * conf settings in ONE session, pairs alternating A,B then B,A so box
  * drift hits both sides equally (the repo's established adjudication
  * method for sub-5s effects; fresh-JVM pairs drift 1.3-2x within an
  * hour). One untimed rep runs first, so the query's cold start (table
  * reads, codegen on first use) lands on neither side.
  *
  *   runMain graft.tools.BenchAB <query>[,<query>...] <confKey> <valA> <valB> [reps]
  *
  * Prints one `[ab]` line per query: minA, minB, all reps.
  */
object BenchAB {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: BenchAB <q1,q2,..> <confKey> <valA> <valB> [repsPerSide]")
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val (key, va, vb) = (args(1), args(2), args(3))
    val reps = if (args.length > 4) args(4).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session("graft-bench-ab")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      def rep(v: String): Double = {
        spark.conf.set(key, v)
        Harness.timed(spark)(fn(spark, sfDir).count())._2
      }
      rep(va)
      val pairs = (1 to reps).map { i =>
        if (i % 2 == 1) { val a = rep(va); (a, rep(vb)) }
        else { val b = rep(vb); (rep(va), b) }
      }
      val (as, bs) = (pairs.map(_._1), pairs.map(_._2))
      println(f"[ab] $name%-28s A($va)=${as.min}%.3f B($vb)=${bs.min}%.3f  " +
        f"(A: ${as.map(t => f"$t%.2f").mkString(",")} B: ${bs.map(t => f"$t%.2f").mkString(",")})")
    }
    spark.stop()
  }
}
