package graft

import graft.analytics.Queries
import org.apache.spark.sql.SparkSession

/** Interleaved in-JVM A/B harness (guide §1): runs named queries with a
  * session conf alternated across a set of values WITHIN one JVM, so
  * variant medians share identical JIT/codegen-cache/GC state and
  * cross-JVM noise (the ±0.3–0.6 s swing two "clean" cold benches show
  * on untouched queries) cancels out. The variant switch must be a conf
  * the query builder reads at construction time.
  *
  * Usage: `sbt "runMain graft.ABProbe <q1,q2,...> <confKey> <v1,v2,...> [rounds]"`
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  * SPARK_GRAFT_CPUS (default 32). Prints per-(query, value) sample lists
  * and medians; ordering is round-robin over values inside each round
  * (A B A B ...), never all-A-then-all-B.
  */
object ABProbe {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val confKey = args(1)
    val values = args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val rounds = if (args.length > 3) args(3).toInt else 5
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.plans.RangeJoinRewrite.SmallRightBytesKey, "65536")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id % 7)").collect()

    val byName = Queries.all.map(q => q.name -> q).toMap
    val qs = names.map(n => byName.getOrElse(n, sys.error(s"unknown query: $n")))

    def run(q: graft.core.QueryDef, v: String): Double = {
      spark.conf.set(confKey, v)
      val t0 = System.nanoTime()
      q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val t = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      t
    }

    // warm: one pass per (query, value) for plan compile + codegen + JIT
    qs.foreach(q => values.foreach(v => run(q, v)))

    val samples = scala.collection.mutable.Map[(String, String), Vector[Double]]()
      .withDefaultValue(Vector.empty)
    (1 to rounds).foreach { r =>
      // rotate the value order each round so no arm systematically
      // runs in a colder (or GC-debt-laden) JVM position
      val rot = values.drop(r % values.size) ++ values.take(r % values.size)
      rot.foreach { v =>
        qs.foreach { q =>
          samples((q.name, v)) = samples((q.name, v)) :+ run(q, v)
        }
      }
    }
    qs.foreach { q =>
      values.foreach { v =>
        val xs = samples((q.name, v)).sorted
        val med = xs(xs.size / 2)
        println(f"== ${q.name}%-28s $confKey=$v%-8s median=${med}%7.3f  samples=${xs.map(x => f"$x%.3f").mkString(",")}")
      }
    }
    spark.stop()
  }
}
