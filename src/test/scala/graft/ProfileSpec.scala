package graft

import org.apache.spark.sql.graft.{ListenerBridge, TestBus}

import graft.obs.Profile

/** The per-query recorder [[Profile.record]] that graft.Bench wraps around
  * every sample: engine counters, the build/plan/exec split, the stream
  * block, and no listener or state left behind.
  */
class ProfileSpec extends SparkSpec {

  private def query(name: String): org.apache.spark.sql.DataFrame =
    SparkEntry.queries(name)(spark, sf001)

  private def record(name: String): Profile =
    Profile.record(spark)(query(name).count())._2

  private def st5(drainRewrite: Boolean): Profile =
    if (drainRewrite) record("st5_interval_join")
    else SparkSpec.forcedDistributed(spark)(record("st5_interval_join"))

  test("a shuffling registry query: counts, rows and a wall-time split") {
    val t0 = System.nanoTime()
    val (n, p) = Profile.record(spark)(query("q1_agg").count())
    val wall = (System.nanoTime() - t0) / 1e9
    assert(n > 0 && p.rows.contains(n))
    assert(p.jobs.nonEmpty && p.counts("stages") >= 1 && p.counts("tasks") >= 1, p.json)
    assert(p.jobs.forall(j => j.seconds >= 0 && j.stages >= 1), p.json)
    assert(p.counts("shuffle_write_bytes") > 0 && p.counts("shuffle_read_bytes") > 0, p.json)
    assert(p.planS > 0 && p.execS > 0, p.json)
    assert(p.buildS >= 0)
    assert(p.buildS + p.planS + p.execS <= wall, s"${p.json} wall=$wall")
    assert(p.stream.isEmpty)
  }

  test("st5 with the drain rewrite off records its stream batches") {
    val p = st5(drainRewrite = false)
    assert(p.stream.getOrElse("batches", 0L) >= 1, p.json)
    assert(p.stream.getOrElse("input_rows", 0L) > 0, p.json)
    assert(p.stream.contains("state_update_ms"), p.json)
  }

  test("st5 by default runs its batch twin: no stream batches") {
    val p = st5(drainRewrite = true)
    assert(p.stream.isEmpty, p.json)
    assert(p.rows.exists(_ > 0) && p.jobs.nonEmpty, p.json)
  }

  test("paths: gr4 records its local kernel, or the distributed loop when forced") {
    assert(record("gr4_components").paths == Map("components.local" -> 1L))
    assert(SparkSpec.forcedDistributed(spark)(record("gr4_components")).paths ==
      Map("components.distributed" -> 1L))
  }

  test("paths: st5 records its batch twin, or the stateful drain when forced") {
    assert(st5(drainRewrite = true).paths == Map("interval_join.twin" -> 1L))
    val forced = st5(drainRewrite = false)
    assert(forced.paths == Map("interval_join.stateful" -> 1L), forced.json)
    assert(forced.json.contains("\"paths\":{\"interval_join.stateful\":1}"), forced.json)
  }

  test("paths: a query with no gate records none") {
    val p = record("q1_agg")
    assert(p.paths.isEmpty)
    assert(p.json.contains("\"paths\":{}"), p.json)
  }

  test("repeated records attach no listeners and carry no state over") {
    val sc = spark.sparkContext
    query("q1_agg").count()
    ListenerBridge.drain(sc)
    val before = TestBus.listeners(sc)
    (1 to 20).foreach { i =>
      val (_, p) = Profile.record(spark)(query("q1_agg").count())
      assert(p.jobs.nonEmpty, s"record $i")
    }
    intercept[IllegalStateException](Profile.record(spark)(throw new IllegalStateException))
    assert(TestBus.listeners(sc) == before)
    // a body that runs nothing sees none of the jobs before it
    val (_, idle) = Profile.record(spark)(())
    assert(idle.jobs.isEmpty && idle.counts.values.forall(_ == 0), idle.json)
    assert(idle.rows.isEmpty && idle.planS == 0 && idle.skips.isEmpty)
  }
}
