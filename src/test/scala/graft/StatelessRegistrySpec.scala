package graft

/** Registry queries keep no state across calls: a run leaves the session's
  * persisted RDDs and cached plans as it found them, and a second run gives
  * the same result as the first. The four queries cover both registry
  * featurizations (TF-IDF and hashed counts) and the seeded k-means fit.
  * The test session is shared across suites, so every check compares
  * before with after rather than against zero. Results compare as row
  * count plus Verify's non-float checksum — the pin gate's notion of
  * equality, insensitive to float-reduction order.
  */
class StatelessRegistrySpec extends SparkSpec {

  private def cachedState: (Int, Int) = (
    spark.sparkContext.getPersistentRDDs.size,
    org.apache.spark.sql.graft.CacheProbe.entries(spark))

  for (name <- Seq("q_tfidf_features", "q_kmeans_blocks", "q_dimsum",
                   "q_billmatch"))
    test(s"$name leaves no cached state and repeats its result") {
      val runs = (1 to 2).map { run =>
        val before = cachedState
        val df = SparkEntry.queries(name)(spark, sfDir)
        val result = (df.count(), Verify.checksum(df))
        assert(cachedState == before,
          s"run $run of $name changed (persisted RDDs, cache entries) " +
            s"from $before to $cachedState")
        result
      }
      assert(runs(0)._1 > 0L, s"$name returned no rows")
      assert(runs(0) == runs(1), s"$name: run 1 ${runs(0)} != run 2 ${runs(1)}")
    }
}
