package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev microbench: the verify stage's exact-Jaccard column. Codegen'd
  * `size(array_intersect(a, b))` builds the intersection ARRAY (hash set +
  * output allocation per pair) just to take its size; the two-pointer
  * count over the already-sorted shingle arrays allocates nothing. Both
  * compute the identical jaccard (arrays are sorted-distinct by
  * construction; empty∩empty = 1), asserted below.
  */
object JaccBench {

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private val jaccardUdf = udf { (a: Array[Long], b: Array[Long]) =>
    graft.kernels.ExactSim.jaccard(
      if (a == null) Array.empty[Long] else a,
      if (b == null) Array.empty[Long] else b)
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "128")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", "/dev/shm/graft-jaccbench/spark-local")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // 200k pairs of ~300-element sorted-distinct arrays with ~80% overlap —
    // the verified-dup shape the pipeline scores
    val pairs = spark.range(200000).as[Long].mapPartitions { it =>
      it.map { i =>
        val rng = new java.util.Random(i)
        val base = Array.fill(350)(rng.nextLong()).distinct.sorted
        val a = base.take(300)
        val b = (base.drop(50) ++ Array.fill(20)(rng.nextLong())).distinct.sorted
        (a, b)
      }
    }.toDF("sh_a", "sh_b").localCheckpoint(true)
    println(s"[jaccbench] pairs=${pairs.count()}")

    def hofCol = {
      val isec = size(array_intersect(col("sh_a"), col("sh_b")))
      val un = size(col("sh_a")) + size(col("sh_b")) - isec
      when(un === 0, lit(1.0)).otherwise(isec.cast("double") / un)
    }
    noop(pairs.withColumn("j", hofCol))
    noop(pairs.withColumn("j", jaccardUdf(col("sh_a"), col("sh_b"))))
    for (rep <- 1 to 3) {
      val tCg = time(noop(pairs.withColumn("j", hofCol)))
      val tUdf = time(noop(pairs.withColumn("j", jaccardUdf(col("sh_a"), col("sh_b")))))
      println(f"[jaccbench] rep=$rep array_intersect=$tCg%.3f two_pointer_udf=$tUdf%.3f")
    }
    val diff = pairs
      .withColumn("h", hofCol)
      .withColumn("u", jaccardUdf(col("sh_a"), col("sh_b")))
      .filter(!(col("h") <=> col("u"))).count()
    println(s"[jaccbench] mismatches=$diff")
    spark.stop()
  }
}
