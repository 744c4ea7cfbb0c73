package graft.tools

import org.apache.spark.sql.SparkSession

import graft.{Bench, GraftSession, SparkEntry}

/** A/B a set of session confs over named queries (dev tool): builds one
  * session per variant (confs are plan-time, so a fresh session per arm
  * keeps codegen/caches honest), runs each query `rounds` times with
  * Bench-identical memo clearing, reports per-query minima.
  *
  * Usage: `runMain graft.tools.ConfAB <q1,q2,...> [rounds]`
  * Variants are hard-coded below — edit per experiment.
  */
object ConfAB {

  def main(args: Array[String]): Unit = {
    val names = args.headOption
      .getOrElse(sys.error("usage: ConfAB <q1,q2,...> [rounds]"))
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val rounds = args.lift(1).map(_.toInt).getOrElse(3)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

    val variants: Seq[(String, Map[String, String])] = Seq(
      "base" -> Map.empty,
      "init32" -> Map(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "32"),
      "shjmap" -> Map(
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "67108864"),
      "base2" -> Map.empty,
      "init32b" -> Map(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "32"),
      "shjmap2" -> Map(
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "67108864"),
    )

    variants.foreach { case (tag, confs) =>
      val b = GraftSession.builder(cpus).appName(s"graft-confab-$tag")
      confs.foreach { case (k, v) => b.config(k, v) }
      val spark = b.getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      spark.range(1000000).selectExpr("sum(id)").collect()
      scala.util.Try(spark.read.parquet(s"$dir/lineitem.parquet")
        .selectExpr("count(*)").collect())
      names.foreach { name =>
        val fn = SparkEntry.queries(name)
        val times = (1 to rounds).map { _ =>
          Bench.resetPass(spark)
          val t0 = System.nanoTime()
          fn(spark, dir).count()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"[confab] $tag%-12s $name%-28s min ${times.min}%6.2f s  " +
          times.map(t => f"$t%.2f").mkString(" "))
      }
      spark.stop()
      // a fresh context per variant: SparkContext confs like shuffle
      // partitions are session-scoped, but codegen cache + block manager
      // state would otherwise bleed between arms
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
