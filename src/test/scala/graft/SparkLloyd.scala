package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Pin._
import graft.ops.VectorOps

/** The quantizer training as Spark jobs, one job per Lloyd round: the
  * reference the driver-side [[VectorOps.kmeansCentroids]] and
  * [[VectorOps.pqTrain]] must equal element for element. Same first-k
  * init, same fused-argmin assignment
  * ([[graft.functions.NearestCentroids]]), same exact scaled-integer
  * means ([[VectorOps.labelCentroids]]). The prefix is `vec_id <
  * trainCap` and the init `vec_id < k`, which is the driver trainer's
  * "first trainCap / first k in vec_id order" whenever ids 0 until
  * trainCap are all present. */
object SparkLloyd {

  def kmeansCentroids(emb: DataFrame, k: Int, iters: Int = 2,
      trainCap: Int = 4096): Seq[(Int, Array[Float])] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val train = emb.filter(col("vec_id") < trainCap)
    var centroids: Seq[(Int, Array[Float])] = train.filter(col("vec_id") < k)
      .orderBy("vec_id").select("embedding").as[Array[Float]]
      .collect().toSeq.zipWithIndex.map(_.swap)
    if (centroids.isEmpty) return Nil
    for (_ <- 0 until iters) {
      val assigned = train.select(
        element_at(graft.functions.NearestCentroids.nearestCells(
          col("embedding"), centroids, 1), 1).as("label"),
        col("embedding"))
      centroids = VectorOps.labelCentroids(assigned)
        .groupBy(col("label")).agg(
          sort_array(collect_list(struct(col("i"), col("c")))).as("cs"))
        .select(col("label"),
          transform(col("cs"), s => s.getField("c").cast("float")).as("cv"))
        .as[(Int, Array[Float])].collect().toSeq.sortBy(_._1)
    }
    centroids
  }

  /** One [[kmeansCentroids]] codebook per subspace slice. */
  def pqTrain(emb: DataFrame, m: Int = 8, k: Int = 16, dim: Int = 64,
      iters: Int = 2, trainCap: Int = 4096): Seq[Seq[(Int, Array[Float])]] = {
    val sub = dim / m
    (0 until m).map { s =>
      kmeansCentroids(
        emb.filter(col("vec_id") < trainCap)
          .select(col("vec_id"),
            slice(col("embedding"), s * sub + 1, sub).as("embedding"))
          .pinLazy,
        k, iters, trainCap)
    }
  }
}
