package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Full-table scale synthesizer for the headline bench (BASELINE.md's
  * sf1-equivalent evidence): writes a `factor`× copy of an sf dir with
  * every key column shifted consistently by k·10⁷ per copy, so all join
  * relationships survive (orders.o_custkey still finds its customer,
  * lineitem.l_orderkey its order, …). Dimension tables (nation, region)
  * stay 1× — copies keep referencing the same 25 nations, exactly like a
  * real TPC-H scale-up. Documents get the ScaleCheck Caesar rotation
  * (bijective per copy — intra-copy dup structure preserved, no
  * cross-copy token collisions); embeddings/events are id-shifted.
  *
  * This is a WORKLOAD scale-up (10× rows through every operator), not a
  * statistical clone of TPC-H sf1 (value distributions repeat per copy) —
  * the honest caveat BASELINE.md carries next to the numbers.
  *
  * Usage: runMain graft.tools.BenchScale [baseDir] [outDir] [factor]
  * then:  SPARK_GRAFT_SF_DIR=<outDir> runMain graft.Bench
  */
object BenchScale {

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "target/benchscale/x10"
    val factor = if (args.length > 2) args(2).toInt else 10
    require(factor >= 1 && factor <= 25,
      s"factor must be in [1, 25] (Caesar period), got $factor")
    val spark = graft.SparkEntry.session("graft-benchscale")

    val fs = new java.io.File(out)
    if (new java.io.File(fs, s"_DONE_benchscale_v1_x$factor").exists()) {
      println(s"""{"benchscale":"$out","status":"cached"}""")
      spark.stop(); return
    }
    fs.mkdirs()

    val shift = 10000000L
    def copies(df: DataFrame, keys: Seq[String])
              (mutate: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until factor).map { k =>
        if (k == 0) df
        else mutate(keys.foldLeft(df)((d, c) =>
          d.withColumn(c, col(c) + lit(k * shift))), k)
      }.reduce(_ unionByName _)

    def write(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")

    // graft.queries.Tables.load handles the nanosecond events reader flag
    def load(name: String) = graft.queries.Tables.load(spark, base, name)

    val alpha = "abcdefghijklmnopqrstuvwxyz"
    val upper = alpha.toUpperCase
    def caesar(k: Int) = (d: DataFrame) => d.withColumn("text",
      translate(col("text"), alpha + upper,
        alpha.drop(k % 26) + alpha.take(k % 26) +
          upper.drop(k % 26) + upper.take(k % 26)))

    write("region", load("region"))
    write("nation", load("nation"))
    write("customer", copies(load("customer"), Seq("c_custkey"))())
    write("supplier", copies(load("supplier"), Seq("s_suppkey"))())
    write("part", copies(load("part"), Seq("p_partkey"))())
    write("orders", copies(load("orders"), Seq("o_orderkey", "o_custkey"))())
    write("lineitem", copies(load("lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey"))())
    write("events", copies(load("events"), Seq("event_id", "user_id"))())
    write("documents", copies(load("documents"), Seq("doc_id")) {
      (d, k) => caesar(k)(d) })
    write("embeddings", copies(load("embeddings"), Seq("vec_id"))())

    new java.io.FileOutputStream(
      new java.io.File(fs, s"_DONE_benchscale_v1_x$factor")).close()
    println(s"""{"benchscale":"$out","factor":$factor,"status":"written"}""")
    spark.stop()
  }
}
