package graft.candidates

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Blocked candidate-pair generation — the engine's rewrite of the reference's
  * `pairup` (reference feature/Utils.scala:46-105 + driver collect/broadcast
  * ExtractCandidates.scala:150-169, SURVEY J2).
  *
  * The reference collects the whole metadata table to the driver, broadcasts
  * it, and flatMaps a quadratic loop — which caps the corpus at driver memory.
  * Here pair generation is ONE declarative self-join:
  *   - blocking label equality (k-means/LDA `prediction`) is the EQUI key (the
  *     ~27× pair cut, docs/tuning_kmeans.md:200-207, without a driver
  *     round-trip). The join side is only (key, group, block, length), so
  *     while it fits under spark.sql.autoBroadcastJoinThreshold Catalyst
  *     broadcasts it (every test and benchmark corpus); past that it plans
  *     a shuffled join partitioned by cluster, each executor seeing only its
  *     clusters' rows;
  *   - pk1 < pk2 dedups symmetric pairs (Utils.scala:75,88);
  *   - group1 != group2 is the cross-state constraint;
  *   - the optional length-ratio band |l1−l2|/√(l1·l2) < maxRatio is
  *     optimization level 2 (Utils.scala:79,96). A pair with a zero length
  *     (an empty text) fails the band, as its Infinity or NaN ratio does in
  *     the reference's double arithmetic.
  * AQE's skew-join handling replaces hand salting for hot clusters (the
  * 27 800-doc cluster of docs/tuning_kmeans.md:130). Workflow 1 scores its
  * pairs without materializing them: [[graft.similarity.BlockScore]].
  */
final case class CandidateConfig(
    keyCol: String = "primary_key",
    groupCol: String = "state",       // pairs must differ on this
    blockCol: Option[String] = Some("prediction"), // pairs must match on this
    lengthCol: Option[String] = None,
    maxLengthRatio: Double = 0.26,
    includeKeys: Option[Seq[String]] = None, // P4 include list
    excludeKeys: Option[Seq[String]] = None) // P4 exclude list

object Candidates {

  /** `df` restricted to `cfg`'s include or exclude list (P4). */
  def restrict(df: DataFrame, cfg: CandidateConfig): DataFrame =
    (cfg.includeKeys, cfg.excludeKeys) match {
      case (Some(keys), _) => df.filter(col(cfg.keyCol).isin(keys: _*))
      case (_, Some(keys)) => df.filter(!col(cfg.keyCol).isin(keys: _*))
      case _ => df
    }

  /** |l1−l2|/√(l1·l2) < maxLengthRatio; a zero denominator gives null, so
    * the pair is dropped, where `/` would raise DIVIDE_BY_ZERO under ANSI. */
  private def lengthBand(l1: Column, l2: Column, cfg: CandidateConfig): Column =
    try_divide(abs(l1 - l2), sqrt(l1.cast("double") * l2)) < cfg.maxLengthRatio

  /** Self-join producing (pk1, pk2) candidate pairs under `cfg`. */
  def pairs(df: DataFrame, cfg: CandidateConfig): DataFrame = {
    val base = restrict(df, cfg)
    val cols = Seq(cfg.keyCol, cfg.groupCol) ++ cfg.blockCol ++ cfg.lengthCol
    val t = base.select(cols.distinct.map(col): _*)
    val a = t.alias("a")
    val b = t.alias("b")
    def ac(c: String) = col(s"a.$c")
    def bc(c: String) = col(s"b.$c")

    val blockCond: Column = cfg.blockCol
      .map(c => ac(c) === bc(c))
      .getOrElse(lit(true))
    val lengthCond: Column = cfg.lengthCol.map(c => lengthBand(ac(c), bc(c), cfg))
      .getOrElse(lit(true))

    a.join(b,
        blockCond &&
        (ac(cfg.keyCol) < bc(cfg.keyCol)) &&
        (ac(cfg.groupCol) =!= bc(cfg.groupCol)) &&
        lengthCond)
      .select(ac(cfg.keyCol).as("pk1"), bc(cfg.keyCol).as("pk2"))
  }

  /** Level-0 UNBLOCKED pair generation with the reference's `onlyInOut`
    * switch (reference feature/Utils.scala:68-105, optimize=0): no blocking
    * label — every cross-group pair of the corpus. `onlyInOut = true`
    * emits ORDERED pairs (`pk1 != pk2`, both orientations, the reference's
    * in→out direction semantics); `false` canonicalizes `pk1 < pk2` (each
    * unordered pair once).
    *
    * This is deliberately the reference's tiny-corpus escape hatch and an
    * ANTI-SCALE mode: with no equi-key the plan is a filtered cartesian
    * join, O(n²) pairs. Kept for reference parity and small ad-hoc corpora
    * ONLY — at any real scale use [[pairs]], whose blocking label is the
    * join's equi-key. */
  def pairsLevel0(df: DataFrame, cfg: CandidateConfig,
                  onlyInOut: Boolean = false): DataFrame = {
    val base = restrict(df, cfg)
    val t = base.select(Seq(cfg.keyCol, cfg.groupCol).distinct.map(col): _*)
    val a = t.alias("a")
    val b = t.alias("b")
    def ac(c: String) = col(s"a.$c")
    def bc(c: String) = col(s"b.$c")
    val keyCond =
      if (onlyInOut) ac(cfg.keyCol) =!= bc(cfg.keyCol)
      else ac(cfg.keyCol) < bc(cfg.keyCol)
    a.join(b, keyCond && (ac(cfg.groupCol) =!= bc(cfg.groupCol)))
      .select(ac(cfg.keyCol).as("pk1"), bc(cfg.keyCol).as("pk2"))
  }

  /** [[pairs]] with a QUADRATIC-BLOWUP GUARD for oversized blocks — the
    * reference's documented scale cliff (one 27 800-doc k-means cluster ⇒
    * 3.9e8 pairs, docs/tuning_kmeans.md:130,182; AQE splits the hot tasks
    * but cannot reduce the pair COUNT, which is inherent to all-pairs).
    *
    * Blocks with ≤ `maxBlockSize` rows run the exact all-pairs join
    * unchanged. Oversized blocks switch to banded MinHash LSH over each
    * row's feature SUPPORT (nonzero indices): signatures are a narrow
    * per-row map, the rows are bucketed by (block, band, bandhash) in
    * [[graft.lsh.BucketPairs]] (each pair once, in its first shared band),
    * and the pair count collapses from n² to bucket-local — retaining pairs
    * with high support overlap, which is exactly the set a downstream
    * cosine/jaccard top-K can score highly (disjoint supports ⇒ similarity
    * 0). The group and length-band predicates apply to the emitted pairs,
    * re-attached by [[attachBothSides]]. Recall for support-Jaccard s is
    * 1-(1-s^r)^bands, r = numHashes/bands — ≥ 0.998 at s ≥ 0.8 with the
    * defaults.
    *
    * The cap is a per-block PAIR budget in disguise (n² vs n·bucket): at
    * 100 TB this bounds the worst block's work without giving up the exact
    * path where it is affordable. Each branch re-evaluates `df`'s lineage
    * (the LSH branch twice: once for the signatures, once for the
    * attributes): callers running over an expensive upstream should persist
    * `df`. */
  def pairsWithBudget(df: DataFrame, cfg: CandidateConfig, featuresCol: String,
                      maxBlockSize: Long, numHashes: Int = 32,
                      bands: Int = 16): DataFrame = {
    val blockC = cfg.blockCol.getOrElse(
      throw new IllegalArgumentException("pairsWithBudget requires blockCol"))
    val base = restrict(df, cfg)
    val sizes = base.groupBy(col(blockC)).agg(count(lit(1)).as("__bn"))
    val tagged = base.join(sizes, blockC) // small agg side: AQE broadcasts it

    val exact = pairs(tagged.filter(col("__bn") <= maxBlockSize).drop("__bn"), cfg)

    val support = udf((v: org.apache.spark.ml.linalg.Vector) =>
      v.toSparse.indices.map(_.toLong))
    val slots = tagged.filter(col("__bn") > maxBlockSize)
      .select(col(cfg.keyCol), support(col(featuresCol)).as("__sup"), col(blockC))
      // EMPTY supports (all-zero feature rows) get the identical all-sentinel
      // MinHash signature, so inside an oversized block they would collide in
      // every band — re-creating exactly the n² the guard exists to kill —
      // while a disjoint support can never score above similarity 0
      // downstream: drop them, no candidate is lost
      .filter(size(col("__sup")) > 0)
      .select(col(cfg.keyCol), graft.dedup.MinHashDedup.bandHashes(
        graft.dedup.MinHashDedup.signature(col("__sup"), numHashes),
        bands, numHashes)("bh"), col(blockC))
    val attrs = base.select(col(cfg.keyCol),
      struct((col(cfg.groupCol).as("g") +: cfg.lengthCol.map(col(_).as("len")).toSeq): _*)
        .as("__a"))
    val lengthCond: Column = cfg.lengthCol
      .map(_ => lengthBand(col("__a_1.len"), col("__a_2.len"), cfg))
      .getOrElse(lit(true))
    val lshPairs = attachBothSides(graft.lsh.BucketPairs.self(slots), attrs, cfg.keyCol, "__a")
      .filter(col("__a_1.g") =!= col("__a_2.g") && lengthCond)
      .select(col("pk1"), col("pk2"))

    exact.unionByName(lshPairs)
  }

  /** J1: attach a payload column (e.g. features) to both sides of each pair —
    * the reference's twoSidedJoin (Utils.scala:251-260) as two equi-joins;
    * Catalyst broadcasts `payload` when it is small enough. */
  def attachBothSides(pairs: DataFrame, payload: DataFrame,
                      keyCol: String, valueCol: String): DataFrame = {
    val p1 = payload.select(col(keyCol).as("__k1"), col(valueCol).as(s"${valueCol}_1"))
    val p2 = payload.select(col(keyCol).as("__k2"), col(valueCol).as(s"${valueCol}_2"))
    pairs
      .join(p1, col("pk1") === col("__k1")).drop("__k1")
      .join(p2, col("pk2") === col("__k2")).drop("__k2")
  }
}
