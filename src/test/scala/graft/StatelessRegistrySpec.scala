package graft

/** Registry queries keep no state across calls: a run adds no persisted
  * RDD and no cached plan to the session, and a second run gives
  * the same result as the first. The queries cover both registry
  * featurizations (TF-IDF and hashed counts), the term-set count and the
  * CountVectorizer fit behind exact k-NN, the seeded k-means fit, the
  * cached one-partition samples of the bisecting k-means and LDA fits,
  * every graph operator, MinHash near-dup dedup (self, incremental and
  * streaming), SimHash near-dup dedup, the MinHash and BRP LSH joins, the
  * budgeted LSH candidate pairs, the LSH k-NN probe, the exact prefix
  * join (self, blocked and incremental) and the prefix-scan compaction plan.
  * The test session is shared across suites, so every check compares
  * before with after rather than against zero, and each case first clears
  * the session's cached plans: a persist of a plan that an earlier suite
  * already cached adds no cache entry and no RDD, and would pass unseen.
  * Results compare as row count plus Verify's non-float checksum — the pin
  * gate's notion of equality, insensitive to float-reduction order.
  */
class StatelessRegistrySpec extends SparkSpec {

  /** Persisted RDD ids and the CacheManager entry count. Ids, not a count:
    * the context cleaner may unpersist another suite's garbage-collected
    * RDDs (the GraphX graphs of the parity specs) while a query runs, and
    * that is not the query's state. */
  private def cachedState: (Set[Int], Int) = (
    spark.sparkContext.getPersistentRDDs.keySet.toSet,
    org.apache.spark.sql.graft.CacheProbe.entries(spark))

  for (name <- Seq("q_tfidf_features", "q_count_vectorized", "q_knn_exact",
                   "q_kmeans_blocks", "q_bisecting_blocks", "q_lda_candidates",
                   "q_dimsum",
                   "q_billmatch", "q_pagerank", "q_pagerank_weighted",
                   "q_pagerank_personalized", "q_hits", "q_kcore",
                   "q_label_propagation", "q_triangles", "q_connected_components",
                   "q_shortest_paths", "q_scc", "q_link_prediction",
                   "q_minhash_dedup", "q_dedup_clusters", "q_dedup_incremental",
                   "q_simhash_dedup", "q_minhash_lsh", "q_brp_lsh",
                   "q_candidates_budget", "q_knn_probe", "q_allpairs_jaccard",
                   "q_dedup_clusters_exact", "q_dedup_incremental_exact",
                   "q_jaccard_pairs", "q_compaction_plan", "q_stream_neardup"))
    test(s"$name leaves no cached state and repeats its result") {
      spark.catalog.clearCache()
      val runs = (1 to 2).map { run =>
        val before = cachedState
        val df = SparkEntry.queries(name)(spark, sfDir)
        val result = (df.count(), Verify.checksum(df))
        val after = cachedState
        assert((after._1 -- before._1).isEmpty && after._2 == before._2,
          s"run $run of $name persisted RDDs ${after._1 -- before._1} or " +
            s"changed the cache entries from ${before._2} to ${after._2}")
        result
      }
      assert(runs(0)._1 > 0L, s"$name returned no rows")
      assert(runs(0) == runs(1), s"$name: run 1 ${runs(0)} != run 2 ${runs(1)}")
    }
}
