package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the driver contract's registry invariants WITHOUT a
  * SparkSession: the correctness gate only checks queries that have
  * oracles, so a query silently missing its oracle would pass the
  * driver as a weaker rows-only check — this spec makes that drift a
  * test failure instead. It also checks the declared prestage reads.
  */
class RegistrySpec extends AnyFunSuite {
  import SparkEntry.{Artifact, registry}

  /** Queries whose oracle is generated after their build (the SQL
    * inlines what the build trained, so it is absent until the query
    * ran in the same JVM). Pinned so adding one is a visible diff.
    */
  private val afterBuild = Set(
    "q07_joinkey_index",
    "q49_ann_ivf_trained", "q77_pq_adc", "q79_ann_ivfpq",
    "q81_cluster_diversity_sample", "q83_ann_ivf_indexed",
    "q84_semantic_dedup", "q87_stream_ivf_index",
    "q91_ivf_index_compact", "q99_semantic_decontaminate",
    "q108_ann_sq8", "q134_embedding_drift", "q137_stream_embedding_drift",
    "q144_ivf_range_search", "q257_ivf_rebalance_plan",
    "q261_stream_ivf_occupancy", "q269_ivf_index_delete",
    "q278_erasure_audit", "q282_stream_ann_serving",
    "q287_stream_index_deletes", "q288_post_erasure_serving")

  test("the after-build oracles are exactly the pinned set") {
    val declared = registry.collect {
      case q if q.oracle.isInstanceOf[SparkEntry.AfterBuild] => q.name
    }.toSet
    assert(declared == afterBuild)
  }

  test("every oracle key names a registered query (no orphan oracles)") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: ${orphans.toSeq.sorted}")
  }

  test("every query has an oracle, except (at most) the trained-gated set") {
    // SUBSET, not equality: an after-build oracle is present once any
    // suite in the same JVM has built its query
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.subsetOf(afterBuild),
      s"unexpected oracle-less queries: ${(missing -- afterBuild).toSeq.sorted}")
  }

  test("query names are well-formed and unique by number") {
    val names = registry.map(_.name)
    assert(names.forall(_.matches("q\\d+_[a-z0-9_]+")), names.filterNot(_.matches("q\\d+_[a-z0-9_]+")))
    val nums = names.map(_.takeWhile(_ != '_'))
    assert(nums.distinct.size == nums.size, "duplicate query numbers")
  }

  test("every artifact has a reader, and reads name only listed artifacts") {
    val read = registry.flatMap(_.reads).toSet
    assert(Artifact.all.filterNot(read).isEmpty)
    assert(read.subsetOf(Artifact.all.toSet))
  }

  private def plan(only: Option[Seq[String]]): Seq[String] =
    SparkEntry.prestagePlan(SparkEntry.select(only)).map(_.name)

  test("a full run prestages every artifact, in order") {
    assert(plan(None) == Seq("events_shared", "emb_split", "events_userpart",
      "model_curation", "bpe_merges", "bucketed_tables", "ivf_compacted",
      "ann_serving", "ivf_live_delete_copies", "denorm_idx", "multihop_idx1",
      "multihop_idx1_late", "semdedup_state", "events_timebk",
      "dedup_clusters_0.05", "ingest_arrivals", "novelty_docs",
      "decon_verdicts", "docs_shared", "docs_sourcepart", "customer_shared",
      "ldiv_released"))
  }

  test("a prefix-selected run prestages what the selected queries read") {
    assert(plan(Some(Seq("q08"))) == Seq("denorm_idx"))
    assert(plan(Some(Seq("q271"))) == Seq("decon_verdicts"))
    assert(plan(Some(Seq("q08", "q271", "q298"))) ==
      Seq("denorm_idx", "semdedup_state", "decon_verdicts"))
    assert(plan(Some(Seq("q01"))).isEmpty)
  }

  test("a failing prestage names the selected queries that read it") {
    val staged = scala.collection.mutable.Buffer.empty[String]
    val broken = Artifact("broken", (_, _) => throw new IllegalStateException("no topic"))
    val fine = Artifact("fine", (_, dir) => staged += dir)
    def q(name: String, reads: Artifact*) =
      SparkEntry.Query(name, (_, _) => fail("built"), new SparkEntry.Eager("SELECT 1"), reads)
    val selected = Seq(q("q901_a", broken), q("q902_b", fine, broken), q("q903_c", fine))
    val failures = SparkEntry.prestage(null, "sf", selected, Seq(broken, fine)).failures
    assert(staged == Seq("sf"), "a failure must not stop the other stages")
    assert(failures.map(f => (f.artifact.name, f.cause.getMessage, f.queries)) ==
      Seq(("broken", "no topic", Seq("q901_a", "q902_b"))))
  }
}
