package graft

/** CLI unigram-LM cost trainer: Viterbi-EM piece costs over a parquet
  * corpus, printed one `piece<TAB>cost` line per piece
  * ([[graft.text.UnigramLearned]]'s resource format). This is how the
  * frozen cost table is minted — the `q_unigram_learn` oracle replays
  * the sf0.01 table this printed, and the query's live train must
  * reproduce it (training determinism is the thing that row verifies).
  * A user curating at scale runs this once per corpus and ships the
  * table to every downstream budget job.
  *
  * Usage: runMain graft.UnigramTrain <sfDir> <iters> [--bigrams]
  *   --bigrams: train over adjacent-word-bigram pre-tokens
  *   ([[graft.text.Bpe.withBigramPreTokens]]) — the same pre-token
  *   enrichment the 1k-merge BPE vocabulary was learned over.
  */
object UnigramTrain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: UnigramTrain <sfDir> <iters> [--bigrams]")
    val sfDir = args(0)
    val iters = args(1).toInt
    val bigrams = args.contains("--bigrams")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.util.Sessions.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val (df, textCol) =
        if (bigrams)
          (graft.text.Bpe.withBigramPreTokens(docs, "text", "bg_text"),
            "bg_text")
        else (docs, "text")
      val costs = graft.text.Unigram.learnCosts(
        df, textCol, graft.text.BpeLearn1k.Merges, iters)
      costs.foreach { case (p, c) => println(s"$p\t$c") }
    } finally spark.stop()
  }
}
