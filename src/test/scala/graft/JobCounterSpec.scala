package graft

import graft.tools.{JobCounter, SparkWork}

class JobCounterSpec extends SparkSpec {
  test("counts the block's jobs and stages, not another thread's") {
    val sc = spark.sparkContext
    val other = new Thread(() =>
      (1 to 5).foreach(_ => sc.parallelize(1 to 10, 2).count()))
    val (sum, work) = JobCounter.count(sc) {
      other.start()
      // one job, two stages: the map side of the shuffle and the result
      sc.parallelize(1 to 100, 4).map(x => (x % 3, x)).reduceByKey(_ + _)
        .values.sum()
    }
    other.join()
    assert(sum === 5050.0)
    assert(work === SparkWork(jobs = 1, stages = 2))
  }
}
