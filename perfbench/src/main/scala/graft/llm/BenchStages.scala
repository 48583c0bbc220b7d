package graft.llm

import org.apache.spark.sql.SparkSession

/** The shared Memo stages the benchmark's passes build, each timed on its
  * own in dependency order, as [[Stages.warm]] times them. Lives in
  * `graft.llm` because the stage builders are package-private. */
object BenchStages {
  def time(s: SparkSession, dir: String): Seq[(String, Double)] = {
    def timed(name: String)(body: => Any): (String, Double) = {
      val t0 = System.nanoTime()
      body
      name -> (System.nanoTime() - t0) / 1e9
    }
    Seq(
      timed("shingles3") { Dedup.shingled(s, dir) },
      timed("near_pairs") { Dedup.nearPairs(s, dir) },
      timed("cluster_labels") { Pipeline.clusterLabels(s, dir) })
  }
}
