package perfbench

/** One benchmark workload: a generated corpus and the shipped main it runs. */
final case class Workload(name: String, corpus: CorpusSpec, main: String,
                          mainArgs: (String, String) => Array[String]) {
  def run(corpusDir: String, outDir: String): Unit = main match {
    case "BillMatch" => graft.BillMatch.main(mainArgs(corpusDir, outDir))
    case "CorpusBuild" => graft.CorpusBuild.main(mainArgs(corpusDir, outDir))
  }
}

object Workloads {
  /** BillMatch parameters of the k-means workload (measure, k, topK). */
  val measure = "cosine"
  val k = 8
  val topK = 100

  val billmatchKmeans: Workload = Workload("billmatch-kmeans",
    CorpusSpec(docs = 2000, families = 60),
    "BillMatch", (in, out) => Array(in, out, measure, k.toString, topK.toString, "kmeans"))

  val corpusBuild: Workload = Workload("corpus-build",
    CorpusSpec(docs = 3000, families = 40, exactDups = 300, nearDups = 300, shortDocs = 90),
    "CorpusBuild", (in, out) => Array(in, out))

  val all: Seq[Workload] = Seq(billmatchKmeans, corpusBuild)

  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $name (known: ${all.map(_.name).mkString(", ")})"))
}
