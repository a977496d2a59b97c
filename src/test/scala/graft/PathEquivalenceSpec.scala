package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.exec.PathChoice
import graft.obs.Profile

/** Every registry query behind a [[PathChoice]] site returns the same
  * result on both sides of its gate: run under `auto` it must record its
  * local kernel or batch twin, run under `spark.graft.path=distributed` the
  * distributed loop or stateful drain, and the two results must carry the
  * same column names and types and the same row multiset. Each side runs
  * on its own fresh session, so no session-staged artifact (d6's cluster
  * table) lets a run skip its gate. Adversarial inputs for single kernels
  * live beside them (GraphSpec, TrainingDataSpec, DrainRewriteSpec).
  */
class PathEquivalenceSpec extends SparkSpec {

  private val gated: Seq[(String, PathChoice.Site)] = Seq(
    "gr2_expand" -> PathChoice.Expand,
    "gr3_pagerank" -> PathChoice.PageRank,
    "gr4_components" -> PathChoice.Components,
    "gr6_ppr" -> PathChoice.PersonalizedPageRank,
    "gr7_kcore" -> PathChoice.KCore,
    "d6_dup_clusters" -> PathChoice.Components,
    "tok2_bpe_merges" -> PathChoice.Bpe,
    "st0_stream_window" -> PathChoice.WindowAgg,
    "st5_interval_join" -> PathChoice.IntervalJoin,
    "st6_stream_sessionize" -> PathChoice.Sessionize,
    "st7_session_timeout" -> PathChoice.SessionTimeout,
    "st8_stream_static" -> PathChoice.StreamStatic,
    "st9_neardup_stream" -> PathChoice.NearDup,
    "sk3_stream_countmin" -> PathChoice.CountMin,
    "sk5_stream_hll" -> PathChoice.Hll)

  // gr7's co-supplier projection is a complete graph at sf0.001 and
  // sf0.01 (K10, K100): every node already has degree ≥ 3, so kCore has
  // nothing to peel and returns its degree table without choosing a
  // path. Its gate first decides at sf0.1.
  private def dir(scale: String) = s"${new java.io.File(sf001).getParent}/$scale"
  private val cases =
    (for (scale <- Seq("sf0.001", "sf0.01"); (name, site) <- gated)
      yield (name, site, scale, dir(scale))) :+
      (("gr7_kcore", PathChoice.KCore, "sf0.1", dir("sf0.1")))
  private val noChoice = Set("gr7_kcore" -> "sf0.001", "gr7_kcore" -> "sf0.01")

  private val sessions = scala.collection.mutable.Map.empty[(String, Boolean), SparkSession]
  private def session(dir: String, forced: Boolean): SparkSession =
    sessions.getOrElseUpdate((dir, forced), {
      val s = spark.newSession()
      if (forced) s.conf.set(PathChoice.Key, "distributed")
      s
    })

  // column names + types and the sorted row multiset
  private def snap(df: DataFrame): (Seq[(String, String)], Seq[String]) =
    (df.schema.fields.map(f => (f.name, f.dataType.simpleString)).toSeq,
      df.collect().map(_.toString).sorted.toSeq)

  private def run(name: String, dir: String, forced: Boolean) = {
    val s = session(dir, forced)
    val (out, p) = Profile.record(s)(snap(SparkEntry.queries(name)(s, dir)))
    (out, p.paths)
  }

  private val recorded = scala.collection.mutable.Set.empty[String]

  for ((name, site, scale, dir) <- cases)
    test(s"$name at $scale: both sides of ${site.name} agree") {
      val (fast, autoPaths) = run(name, dir, forced = false)
      val (general, forcedPaths) = run(name, dir, forced = true)
      val (fastPath, generalPath) = site match {
        case _: PathChoice.Kernel => ("local", "distributed")
        case _: PathChoice.Twin => ("twin", "stateful")
      }
      if (noChoice((name, scale))) assert(autoPaths.isEmpty && forcedPaths.isEmpty)
      else {
        assert(autoPaths.keySet == Set(s"${site.name}.$fastPath"), autoPaths)
        assert(forcedPaths.keySet == Set(s"${site.name}.$generalPath"), forcedPaths)
      }
      recorded ++= (autoPaths.keySet ++ forcedPaths.keySet).map(_.takeWhile(_ != '.'))
      assert(fast._1 == general._1)
      assert(fast._2.nonEmpty)
      assert(fast._2 == general._2)
    }

  test("the cases above cover every PathChoice site") {
    val all = PathChoice.sites.map(_.name).toSet
    assert(PathChoice.sites.size == all.size)
    assert(gated.map(_._2.name).toSet == all)
    assert(recorded == all)
  }

  test("a bad spark.graft.path value names the key and the allowed values") {
    val s = spark.newSession()
    s.conf.set(PathChoice.Key, "distributd")
    val e = intercept[IllegalArgumentException](
      SparkEntry.queries("gr2_expand")(s, sf001))
    assert(e.getMessage.contains(PathChoice.Key))
    assert(e.getMessage.contains("auto") && e.getMessage.contains("distributed"))
    assert(e.getMessage.contains("distributd"))
  }
}
