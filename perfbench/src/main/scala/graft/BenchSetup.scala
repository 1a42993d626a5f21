package graft

import org.apache.spark.sql.SparkSession

/** The benchmark's view of `Bench.setupSteps`, which is package-private. */
object BenchSetup {
  def steps: Seq[(String, (SparkSession, String) => Unit)] = Bench.setupSteps
}
