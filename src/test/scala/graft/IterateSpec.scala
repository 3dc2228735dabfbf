package graft

import graft.operators.{GraphOps, Iterate}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[Iterate.fixpoint]]: its checkpoint cadence and job counts, the edge
  * cache it must release on failure, the rounds it reports, and AQE kept
  * off its loops without touching the shared session's conf. */
class IterateSpec extends SparkSpec {
  import spark.implicits._

  private def pathSym(nodes: Long): DataFrame = {
    val u = (0L until nodes - 1).map(i => (i, i + 1)).toDF("src", "dst")
    u.unionAll(u.select($"dst".as("src"), $"src".as("dst")))
  }

  /** A 3-state Markov chain: one join + aggregate per round. */
  private def markov(rounds: Int): Iterate.Fixpoint = {
    val pm = Seq((0L, 1L, 0.5), (0L, 2L, 0.5), (1L, 0L, 1.0), (2L, 0L, 0.3),
      (2L, 1L, 0.7)).toDF("a", "b", "p")
    val pi0 = Seq((0L, 1.0 / 3), (1L, 1.0 / 3), (2L, 1.0 / 3)).toDF("t", "pi")
    Iterate.fixpoint(pi0, rounds, aqe = false) { (pi, _) =>
      Iterate.Round(pm
        .join(pi, pi("t") === pm("a"))
        .groupBy(pm("b").as("bt"))
        .agg(sum($"pi" * $"p").as("pi"))
        .select($"bt".as("t"), $"pi"))
    }
  }

  // The pinned counts are the jobs the hand-rolled loops this driver
  // replaced ran on the same inputs, their checkpoints under AQE off.
  // AQE on splits each checkpoint into one job per exchange, so a leak
  // raises both counts.
  test("a fixed 10-round run checkpoints at rounds 3, 6, 9 and 10 without AQE") {
    var f: Iterate.Fixpoint = null
    assert(jobsOf { f = markov(10) } === 9)
    assert(f.rounds === 10 && f.change === -1L)
    val pi = f.state.as[(Long, Double)].collect()
    assert(math.abs(pi.map(_._2).sum - 1.0) < 1e-9)
  }

  test("a converged BFS on a 30-node path keeps its job count without AQE") {
    var got: Map[Long, Long] = Map.empty
    val jobs = jobsOf {
      got = GraphOps.bfsDistancesConverged(pathSym(30))
        .as[(Long, Long)].collect().toMap
    }
    assert(got === (0L until 30L).map(i => i -> i).toMap)
    assert(jobs === 66)
  }

  test("a step that throws in round 2 releases the edge cache") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val nodes = (0L until 10L).toDF("node")
    var round = 0
    val err = intercept[IllegalStateException] {
      Iterate.withEdgeCache(pathSym(10), "src") { cached =>
        cached.count() // materializes the cache
        assert(spark.sparkContext.getPersistentRDDs.size > before.size)
        Iterate.fixpoint(nodes, 5, aqe = false) { (s, _) =>
          round += 1
          if (round == 2) throw new IllegalStateException("round 2")
          Iterate.Round(
            s.join(cached, $"node" === $"src").select($"dst".as("node")))
        }
      }
    }
    assert(err.getMessage === "round 2")
    assert(spark.sparkContext.getPersistentRDDs.keySet === before)
  }

  test("a capped run that does not converge reports maxRounds and a non-zero change") {
    // two nodes swapping labels every round never settle
    val lab0 = Seq((0L, 0L), (1L, 1L)).toDF("node", "lab")
    val f = Iterate.fixpoint(lab0, 6, aqe = false) { (lab, _) =>
      Iterate.Round(
        lab.select($"node", (lit(1L) - $"lab").as("lab"), $"lab".as("old")),
        Some(count(when($"lab" =!= $"old", lit(1)))),
        Seq("old"))
    }
    assert(f.rounds === 6)
    assert(f.change === 2L)
    assert(f.state.columns.toSeq === Seq("node", "lab"))
  }

  test("an AQE-off loop never shows AQE off to another thread") {
    val key = "spark.sql.adaptive.enabled"
    val polls = new java.util.concurrent.atomic.AtomicLong(0L)
    val offs = new java.util.concurrent.atomic.AtomicLong(0L)
    @volatile var done = false
    val poller = new Thread(() =>
      while (!done) {
        if (spark.conf.get(key) == "false") offs.incrementAndGet()
        polls.incrementAndGet()
      })
    poller.start()
    val core =
      try GraphOps.kcoreConverged(pathSym(40), 2).count()
      finally { done = true; poller.join() }
    assert(core === 0L)
    assert(polls.get > 0L)
    assert(offs.get === 0L, s"another thread read $key=false")
    assert(spark.conf.get(key) === "true")
  }
}
