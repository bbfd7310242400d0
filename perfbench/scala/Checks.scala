package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{Row, SparkSession}

/** Output checks: a wrong answer turns a call into a failed one. Each check
  * returns the digest of the output it accepted, or the reason it did not. */
object Checks {

  private def sha256(lines: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes(UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Rows of a parquet directory, file by file in name order, each file in
    * its own row order. */
  private def rowsInFileOrder(spark: SparkSession, dir: String): Seq[Row] = {
    val files = Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    files.toSeq.flatMap(f => spark.read.parquet(f.getPath).collect().toSeq)
  }

  private def fail(msg: String): Nothing = throw new IllegalStateException(msg)

  /** BillMatch: `pairs.parquet` holds min(topK, pairs) rows, each pk1 < pk2
    * and cross-state, with finite similarities in [0, 100] stored in strictly
    * increasing (similarity desc, pk1, pk2) order; `graph.parquet` has one
    * row per top-K endpoint and no other vertex. Digest: the rows in order,
    * similarities bit-exact. */
  def billMatch(spark: SparkSession, outDir: String, corpus: Corpus,
                totalPairs: Long, topK: Int): Either[String, String] = try {
    val lang = corpus.ids.indices.map(i => corpus.ids(i) -> corpus.langs(i)).toMap
    val rows = rowsInFileOrder(spark, s"$outDir/pairs.parquet")
      .map(r => (r.getAs[Long]("pk1"), r.getAs[Long]("pk2"), r.getAs[Number]("similarity").doubleValue))
    val want = math.min(topK.toLong, totalPairs)
    if (rows.size != want) fail(s"pairs.parquet has ${rows.size} rows, expected $want")
    rows.foreach { case (a, b, s) =>
      if (!(a < b)) fail(s"pair ($a, $b) is not pk1 < pk2")
      if (!lang.contains(a) || !lang.contains(b)) fail(s"pair ($a, $b) names an unknown doc")
      if (lang(a) == lang(b)) fail(s"pair ($a, $b) is within state ${lang(a)}")
      if (s.isNaN || s.isInfinite || s < 0 || s > 100 + 1e-9)
        fail(s"pair ($a, $b) has similarity $s")
    }
    rows.sliding(2).foreach {
      case Seq((a1, b1, s1), (a2, b2, s2)) =>
        val ordered = s1 > s2 || (s1 == s2 && (a1 < a2 || (a1 == a2 && b1 < b2)))
        if (!ordered) fail(s"rows ($a1, $b1, $s1) and ($a2, $b2, $s2) are out of top-K order")
      case _ => ()
    }
    val endpoints = rows.flatMap { case (a, b, _) => Seq(a, b) }.toSet
    val vertices = spark.read.parquet(s"$outDir/graph.parquet")
      .select("vertex").collect().map(_.getLong(0)).toSeq
    if (vertices.size != vertices.distinct.size) fail("graph.parquet repeats a vertex")
    if (vertices.toSet != endpoints)
      fail(s"graph.parquet covers ${vertices.size} vertices, top-K has ${endpoints.size} endpoints")
    Right(sha256(rows.iterator.map { case (a, b, s) =>
      s"$a,$b,${java.lang.Double.doubleToLongBits(s)}" }))
  } catch { case e: Exception => Left(e.getMessage) }

  /** CorpusBuild: every output row is an input row (same id, lang, source,
    * text) with its token count; no eval-slice id, no repeated id or text,
    * at most one survivor of each planted exact-duplicate group; the report
    * sums per (split, lang) equal the corpus rows. Digest: sorted (id, split). */
  def corpusBuild(spark: SparkSession, outDir: String, corpus: Corpus,
                  evalMod: Long): Either[String, String] = try {
    val input = corpus.ids.indices.map(i => corpus.ids(i) -> i).toMap
    val rows = spark.read.parquet(s"$outDir/corpus.parquet").collect().toSeq
    val out = rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
      r.getAs[String]("source"), r.getAs[Long]("n_tok"), r.getAs[String]("split"),
      r.getAs[String]("text")))
    if (out.isEmpty) fail("corpus.parquet is empty")
    out.foreach { case (id, l, src, nTok, split, text) =>
      val i = input.getOrElse(id, fail(s"output id $id is not an input id"))
      if (corpus.texts(i) != text || corpus.langs(i) != l || corpus.sources(i) != src)
        fail(s"output row $id differs from the input row")
      if (id % evalMod == 0) fail(s"eval-slice id $id survived")
      if (nTok != text.split(' ').count(_.nonEmpty)) fail(s"row $id has n_tok $nTok")
      if (!Set("train", "val", "test").contains(split)) fail(s"row $id has split $split")
    }
    if (out.map(_._1).distinct.size != out.size) fail("an output id repeats")
    if (out.map(_._6).distinct.size != out.size) fail("an output text repeats")
    val kept = out.map(_._1).toSet
    corpus.exactGroups.foreach { g =>
      if (g.count(kept) > 1) fail(s"exact duplicates ${g.filter(kept).mkString(",")} survived")
    }
    val report = spark.read.parquet(s"$outDir/report.parquet").collect()
      .map(r => (r.getAs[String]("split"), r.getAs[String]("lang")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"))).toMap
    val expected = out.groupBy(r => (r._5, r._2)).map { case (key, rs) =>
      key -> (rs.size.toLong, rs.map(_._4).sum) }
    if (report != expected) fail("report.parquet sums differ from the corpus rows")
    Right(sha256(out.map(r => s"${r._1},${r._5}").sorted.iterator))
  } catch { case e: Exception => Left(e.getMessage) }

  /** Deliberate corruption for checking the checks: swaps the first two
    * top-K rows, or repeats one corpus row. */
  def corrupt(spark: SparkSession, w: Workload, outDir: String): Unit = w.main match {
    case "BillMatch" =>
      val dir = s"$outDir/pairs.parquet"
      val rows = rowsInFileOrder(spark, dir)
      val swapped = if (rows.size < 2) rows else rows(1) +: rows(0) +: rows.drop(2)
      val schema = spark.read.parquet(dir).schema
      spark.createDataFrame(java.util.Arrays.asList(swapped: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir.tmp")
      deleteTree(new File(dir))
      new File(s"$dir.tmp").renameTo(new File(dir))
    case "CorpusBuild" =>
      val dir = s"$outDir/corpus.parquet"
      spark.read.parquet(dir).limit(1).drop("split")
        .write.mode("append").parquet(s"$dir/split=train")
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
