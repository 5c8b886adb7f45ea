package graft.tools
import org.apache.spark.ml.recommendation.ALS
import org.apache.spark.sql.functions._
object AlsTune {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    val d = "/root/testdata/sf0.1"
    val ratings = spark.read.parquet(s"$d/lineitem.parquet")
      .join(spark.read.parquet(s"$d/orders.parquet"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").cast("int").as("user"), col("l_partkey").cast("int").as("item"))
      .agg(count(lit(1)).cast("float").as("rating"))
      .persist()
    ratings.count()
    val users = ratings.groupBy("user").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("user").asc).limit(2000).select("user").persist()
    users.count()
    for (blocks <- Seq(4, 8, 10); trial <- 1 to 2) {
      System.gc()
      val t0 = System.nanoTime()
      val als = new ALS().setRank(4).setMaxIter(3).setSeed(42L).setImplicitPrefs(true)
        .setNumUserBlocks(blocks).setNumItemBlocks(blocks)
        .setUserCol("user").setItemCol("item").setRatingCol("rating")
      val m = als.fit(ratings)
      m.setColdStartStrategy("drop")
      val t1 = System.nanoTime()
      m.recommendForUserSubset(users, 5).count()
      val t2 = System.nanoTime()
      m.userFactors.unpersist(); m.itemFactors.unpersist()
      println(f"ALSTUNE blocks=$blocks trial=$trial fit=${(t1-t0)/1e9}%.2f rec=${(t2-t1)/1e9}%.2f s")
    }
    spark.stop()
  }
}
