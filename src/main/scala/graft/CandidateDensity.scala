package graft

import org.apache.spark.sql.functions._

/** Diagnostic main for the synthetic-sf1 organic-growth question (r17
  * verdict item 4): measures the MinHash-LSH band-candidate density of
  * each given SF directory — the quantity that decides whether the
  * dedup-family rows of the scaling audit measure the operator or the
  * replication artifact. Per dir it prints one JSON line with
  *
  *   - `docs`: corpus size (the shingled population);
  *   - `band_rows`: rows of the (doc, band, bh) table;
  *   - `cand_multi`: Σ over (band, bh) buckets of C(n, 2) — candidate
  *     pairs WITH band multiplicity, i.e. the verification join's
  *     shuffle/probe cost, computable without materializing the join;
  *   - `cand_pairs`: distinct candidate pairs (the exact-Jaccard
  *     verification population);
  *   - `max_bucket`: the largest single band bucket (skew witness).
  *
  * Usage: `sbt "runMain graft.CandidateDensity <sfdir> [sfdir ...]"`.
  */
object CandidateDensity {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: CandidateDensity <sfdir> [sfdir ...]")
    val spark = Sessions.local()
    for (dir <- args) {
      val docs = Tables.load(spark, dir, "documents")
      val bd = operators.Dedup.bandedDocs(docs).localCheckpoint(true)
      val nDocs = bd.select(col("doc_id")).distinct().count()
      val buckets = bd.groupBy(col("band"), col("bh")).count()
        .localCheckpoint(true)
      val a = buckets.agg(
        sum(col("count") * (col("count") - lit(1L))).as("m2"),
        sum(col("count")).as("rows"),
        max(col("count")).as("mx")).head()
      val multi = a.getLong(0) / 2; val rows = a.getLong(1); val mx = a.getLong(2)
      // distinct candidate pairs: the band-bucket self-join, deduped —
      // only run when the multiplicity bound says it fits comfortably
      val pairs =
        if (multi <= 200000000L) {
          val l = bd.select(col("band"), col("bh"), col("doc_id").as("a"))
          val r = bd.select(col("band"), col("bh"), col("doc_id").as("b"))
          l.join(r, Seq("band", "bh"))
            .filter(col("a") < col("b"))
            .select(col("a"), col("b")).distinct().count()
        } else -1L
      println(s"""{"dir":${Json.quote(dir)},"docs":$nDocs,""" +
        s""""band_rows":$rows,"cand_multi":$multi,""" +
        s""""cand_pairs":$pairs,"max_bucket":$mx}""")

      // the EMBEDDING arm (q64's hyperplane LSH at the occupancy-sized
      // width): same bucket arithmetic over the (table, sig) groups —
      // the number that decomposes a q64 wall-time fit into candidate
      // growth (the sizing law's n·occupancy) vs everything else
      val e = operators.Similarity.embFor(spark, dir)
      val nVec = e.count()
      val bits = operators.Similarity.lshBitsFor(nVec)
      val sigs = e.select(col("vec_id"),
        posexplode(functions.hyperplane_sigs(col("v"), bits, 8, 64))
          .as(Seq("t", "sig")))
        .groupBy(col("t"), col("sig")).count().localCheckpoint(true)
      val ea = sigs.agg(
        sum(col("count") * (col("count") - lit(1L))).as("m2"),
        max(col("count")).as("mx")).head()
      println(s"""{"dir":${Json.quote(dir)},"vecs":$nVec,"bits":$bits,""" +
        s""""emb_cand_multi":${ea.getLong(0) / 2},""" +
        s""""emb_max_bucket":${ea.getLong(1)}}""")
    }
    spark.stop()
  }
}
