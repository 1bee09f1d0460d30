package graft.reco

import graft.SparkSpec
import java.nio.file.Files

class AlsCheckpointSpec extends SparkSpec {
  import spark.implicits._

  test("ALS writes checkpoints when a checkpoint dir is set") {
    val dir = Files.createTempDirectory("als_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val ratings = (for (u <- 1 to 20; i <- 1 to 10 if (u + i) % 3 != 0)
        yield (u, i, 1.0)).toDF("user_id", "item_id", "rating")
      // interval 2 with maxIter 5 forces at least one lineage cut
      val rec = AlsRecommender.train(ratings, rank = 4, maxIter = 5,
        checkpointInterval = 2)
      val ckptFiles = new java.io.File(dir).listFiles()
      assert(ckptFiles != null && ckptFiles.nonEmpty,
        s"no checkpoint data written under $dir")
      val recs = rec.recommendForUsers(Seq(1).toDF("user_id"), 3)
      assert(recs.count() == 3)
    } finally {
      // a lingering checkpoint dir would leak into later suites' lineage
      spark.sparkContext.setCheckpointDir(null)
    }
  }
}
