package graft

import graft.dedup.MinHashDedup
import graft.io.Tables
import graft.text.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Runnable end-to-end training-corpus build — the pipeline-surface sibling
  * of [[BillMatch]]: one command takes the raw documents table to gated,
  * deduplicated, decontaminated, split train/val/test parquet plus a
  * per-(split, lang) token-budget report. Every stage is an operator the
  * correctness gate already checks one-by-one (q_quality_rules,
  * q_dedup_exact, q_minhash_dedup, q_decontaminate, q_split_stratified,
  * q_token_budget); this main is their composition into ONE declarative
  * plan per output, the way a 100 TB corpus build would actually ship.
  *
  * Usage: runMain graft.CorpusBuild [sfDir] [outDir] [minTok] [maxTok] [jaccard]
  *
  * Scale shape, stage by stage:
  *  - quality gate: narrow map + filter, no shuffle;
  *  - exact dedup: one min_by aggregate over md5(text) — one survivor row
  *    per hash per map partition crosses the shuffle;
  *  - near-dup: banded MinHash LSH ([[MinHashDedup.nearDupPairs]]): each
  *    document signed once, candidates from a bucket shuffle, never an
  *    all-pairs corpus join; greedy smaller-id survivor;
  *  - decontamination: eval 4-gram set is DISTINCT'd then broadcast — the
  *    fact stream is never shuffled by the join;
  *  - split: deterministic 48-bit md5 bucket of the id — reproducible on any
  *    cluster size, no RNG state;
  *  - outputs partitioned by split so downstream training readers prune.
  */
object CorpusBuild {

  final case class Config(
      minTok: Int = 10,
      maxTok: Int = 1000,
      jaccardThreshold: Double = 0.8,
      evalMod: Long = 11) // doc_id % evalMod == 0 marks the held-out eval slice

  /** 48-bit md5 bucket in [0, 10): 0-7 train, 8 val, 9 test. */
  private def splitLabel(id: org.apache.spark.sql.Column) = {
    val b = conv(substring(md5(id.cast("string").cast("binary")), 1, 12), 16, 10)
      .cast("long") % 10
    when(b < 8, "train").when(b === 8, "val").otherwise("test")
  }

  /** The full gated/deduped/decontaminated corpus with split labels.
    * Exposed for the spec; `run` writes its outputs. */
  def build(spark: SparkSession, sfDir: String, cfg: Config = Config()): DataFrame = {
    // NOT spread (measured r10): the pipeline's stages shuffle early (dedup
    // sketch band keys, gram explode into broadcast-join), so Tables.spread's
    // up-front exchange measured slightly WORSE (1.63→1.80 s at sf0.1) than
    // letting the first shuffle distribute the work
    val docs = Tables.documents(spark, sfDir)

    // 1. quality gate (token-count window; the richer rule set is
    // q_quality_rules — kept minimal here so the report stays legible)
    val gated = docs
      .withColumn("n_tok", TextOps.tokenCount(col("text")).cast("long"))
      .filter(col("n_tok").between(cfg.minTok, cfg.maxTok))

    // 2. exact dedup — smallest id per distinct text survives
    val exact = MinHashDedup.dedupExact(gated, "doc_id", "text")

    // 3. near-dup dedup — greedy smaller-id survivor over LSH-verified pairs
    val pairs = MinHashDedup.nearDupPairs(exact,
      MinHashDedup.Config(jaccardThreshold = cfg.jaccardThreshold))
    val deduped = exact.join(
      pairs.select(col("d2").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")

    // 4. decontamination: drop training docs sharing any 4-gram with the
    // held-out eval slice (the q_decontaminate shape; an external eval set
    // would replace the mod-slice with its own parquet). Eval grams come
    // from the RAW table — the eval set is what it is; quality gates and
    // dedup apply to training candidates only.
    val bench = docs.filter(col("doc_id") % cfg.evalMod === 0)
      .select(explode(array_distinct(
        TextOps.ngrams(TextOps.tokens(col("text")), 4))).as("g"))
      .distinct()
    val contaminated = deduped
      .filter(col("doc_id") % cfg.evalMod =!= 0)
      .select(col("doc_id"),
        explode(TextOps.ngrams(TextOps.tokens(col("text")), 4)).as("g"))
      .join(broadcast(bench), "g")
      .select("doc_id").distinct()
    val clean = deduped
      .filter(col("doc_id") % cfg.evalMod =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")

    // 5. deterministic split
    clean.withColumn("split", splitLabel(col("doc_id")))
      .select("doc_id", "lang", "source", "n_tok", "split", "text")
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    try run(spark, args) finally spark.stop()
  }

  /** The whole build on a caller-owned session, which stays open. */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val sfDir  = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("/tmp/corpusbuild_out")
    val cfg = Config(
      minTok = args.lift(2).map(_.toInt).getOrElse(10),
      maxTok = args.lift(3).map(_.toInt).getOrElse(1000),
      jaccardThreshold = args.lift(4).map(_.toDouble).getOrElse(0.8))

    val corpus = build(spark, sfDir, cfg)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    corpus.write.mode("overwrite").partitionBy("split")
      .parquet(s"$outDir/corpus.parquet")

    val report = corpus.groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      .orderBy("split", "lang")
    report.write.mode("overwrite").parquet(s"$outDir/report.parquet")

    println(s"[corpusbuild] wrote $outDir/corpus.parquet (partitioned by split)")
    report.collect().foreach(r => println(s"[corpusbuild] $r"))
    corpus.unpersist()
  }
}
