package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** The dedup frame caches must key on the FULL canonicalized plan: a
  * filtered view of the corpus is a different snapshot and must never be
  * served the full-corpus checkpointed frame (the r7 verdict's
  * 32-bit-semanticHash concern), and invalidation must actually drop the
  * session's entries.
  *
  * Uses a dedicated session so entry counts aren't polluted by other
  * suites sharing the SparkSpec session.
  */
class FrameCacheSpec extends SparkSpec {

  private lazy val ownSession: SparkSession =
    spark.newSession()

  test("same-schema parquet reads of DIFFERENT directories get distinct entries") {
    // The canonicalized ANALYZED plan of a file scan must key on the file
    // location — if `Relation [cols] parquet` prints location-free, two
    // corpora of the same schema collide and one is served the other's
    // checkpointed frame (the r11 cross-suite DedupSpec failure: sf1 doc
    // ids surfacing in an sf0.001 query).
    val s = ownSession
    Artifacts.invalidate(s)
    val a = graft.sources.Tables.documents(s, "/root/testdata/sf0.001")
    val b = graft.sources.Tables.documents(s, "/root/testdata/sf0.01")
    val ga = Dedup.normGroups(a)
    val gb = Dedup.normGroups(b)
    assert(!(ga eq gb), "different directories must MISS the cache")
    assert(Artifacts.entryCount(s) == 2)
    // content check, not count: these corpora happen to have 500 docs each
    def contentSum(df: org.apache.spark.sql.DataFrame): Long =
      df.select(org.apache.spark.sql.functions.bit_xor(
        org.apache.spark.sql.functions.xxhash64(
          org.apache.spark.sql.functions.col("norm"))))
        .collect()(0).getLong(0)
    assert(contentSum(ga) != contentSum(gb),
      "collision: one directory served the other's checkpoint")
    // and a RE-read of the same directory (a fresh DataFrame object over a
    // fresh FileIndex) must HIT its entry — the cache exists to share work
    // across queries in one run
    val ga2 = Dedup.normGroups(graft.sources.Tables.documents(s, "/root/testdata/sf0.001"))
    assert(ga2 eq ga, "same directory re-read must HIT the cache")
    Artifacts.invalidate(s)
  }

  test("same-schema literal frames with different rows get distinct entries") {
    // LocalRelation's canonicalized STRING carries only the schema, so
    // without the leaf-content digest two different in-memory corpora of
    // the same shape collided and the second was served the first's
    // checkpoint (the r8 DedupSpec/DedupSubstringSpec cross-test failure).
    val s = ownSession
    import s.implicits._
    Artifacts.invalidate(s)
    val a = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"))
      .toDF("doc_id", "text")
    val b = Seq((1L, "one two three"), (2L, "four five six"))
      .toDF("doc_id", "text")
    val ga = Dedup.normGroups(a)
    val gb = Dedup.normGroups(b)
    assert(!(ga eq gb), "different literal data must MISS the cache")
    assert(Artifacts.entryCount(s) == 2)
    assert(ga.count() == 1)
    assert(gb.count() == 2)
    Artifacts.invalidate(s)
  }

  test("filtered input does not hit the full-corpus cache entry") {
    val s = ownSession
    import s.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "one two three four five six"),
      (4L, "one two three four five six"),
      (5L, "unique text with its own words")
    ).toDF("doc_id", "text")

    val before = Artifacts.entryCount(s)
    val full = Dedup.normGroups(docs)
    assert(Artifacts.entryCount(s) == before + 1)

    // same plan → same entry, not a new one
    val again = Dedup.normGroups(docs)
    assert(again eq full, "identical plan must hit the cached frame")
    assert(Artifacts.entryCount(s) == before + 1)

    // a filtered view is semantically different → its own entry with its
    // own (smaller) groups, never the full-corpus frame
    val filtered = Dedup.normGroups(docs.filter(col("doc_id") <= 2))
    assert(!(filtered eq full), "filtered input must MISS the corpus entry")
    assert(Artifacts.entryCount(s) == before + 2)
    assert(full.count() == 3)
    assert(filtered.count() == 1)
    val members = filtered.select("members").head.getSeq[Long](0)
    assert(members == Seq(1L, 2L))
  }

  test("invalidateCaches drops the session's entries; rebuild works") {
    val s = ownSession
    import s.implicits._
    val docs = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y z"))
      .toDF("doc_id", "text")
    Dedup.normGroups(docs)
    assert(Artifacts.entryCount(s) > 0)
    Artifacts.invalidate(s)
    assert(Artifacts.entryCount(s) == 0)
    // a fresh build after invalidation computes and caches again
    val rebuilt = Dedup.normGroups(docs)
    assert(rebuilt.count() == 2)
    assert(Artifacts.entryCount(s) == 1)
    Artifacts.invalidate(s)
  }

  test("shingle pair table is computed once per snapshot and shared") {
    // dedup_ngram / dedup_ngram_grouped / dedup_clusters (component
    // edges) / dedup_recall's exact arm all run the SAME Σ bucket² pair
    // stage — the one stage that is quadratic in near-dup family size by
    // semantics (BENCH_skew_r12 pre-cache: ~400-590 s PER REBUILD under
    // a 4,800-member mutated family). Pin: the second consumer hits the
    // cached checkpoint (one shinglePairs entry), and the pair content
    // is right.
    val s = ownSession
    import s.implicits._
    Artifacts.invalidate(s)
    val docs = Seq(
      (1L, "the quick brown fox jumps high"),
      (2L, "the quick brown fox jumps low"),
      (3L, "completely different words here now"),
      (4L, "the quick brown fox jumps high")
    ).toDF("doc_id", "text")
    val raw = Dedup.dedupNgramDf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.rint(r.getDouble(2) * 100) / 100)).toSet
    assert(Artifacts.entryCount(s, "shinglePairs") == 1)
    // docs 1/4 verbatim (within pair, jaccard 1.0); 1-2 and 2-4 share 3
    // of 5 distinct shingles (0.6); doc 3 pairs with nothing
    assert(raw == Set((1L, 4L, 1.0), (1L, 2L, 0.6), (2L, 4L, 0.6)))
    Dedup.dedupNgramGroupedDf(docs).collect()
    assert(Artifacts.entryCount(s, "shinglePairs") == 1,
      "the grouped twin must HIT the shared pair-table entry")
    Artifacts.invalidate(s)
  }

  test("cluster table is computed once per pair-frame plan and shared") {
    // dedup_clusters / cluster_stats / curation_weight / curation_report /
    // pipeline_filter all consume the SAME connected-components table;
    // before the clustersCache each re-ran the full pair stage +
    // propagation loop (r11: ~6 rebuilds of the skew sweep's most
    // expensive stage). Pin: second call HITS, result reads identically
    // after the loop's working RDDs are unpersisted (the checkpoint is
    // the thing being served, not the loop state), different pair frames
    // get their own entries.
    val s = ownSession
    import s.implicits._
    Artifacts.invalidate(s)
    val pairsA = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val a1 = Dedup.clustersFromPairs(pairsA)
    assert(Artifacts.entryCount(s, "clusters") == 1)
    val a2 = Dedup.clustersFromPairs(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b"))
    assert(a2 eq a1, "identical pair frame must HIT the cluster cache")
    val got = a1.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(got == Seq((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (10L, 10L, true), (11L, 10L, false)))
    val pairsB = Seq((5L, 6L)).toDF("doc_a", "doc_b")
    Dedup.clustersFromPairs(pairsB)
    assert(Artifacts.entryCount(s, "clusters") == 2,
      "a different pair frame must get its own entry")
    Artifacts.invalidate(s)
  }

  test("entries beyond the per-session cap are reference-dropped") {
    val s = ownSession
    import s.implicits._
    Artifacts.invalidate(s)
    val n = Artifacts.MaxPerSession + 3
    (0 until n).foreach { i =>
      val docs = Seq((i.toLong, s"text number $i"), (i + 100L, s"text number $i"))
        .toDF("doc_id", "text")
      Dedup.normGroups(docs)
    }
    assert(Artifacts.entryCount(s) <= Artifacts.MaxPerSession)
    Artifacts.invalidate(s)
  }
}
