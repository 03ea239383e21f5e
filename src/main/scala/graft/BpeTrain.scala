package graft

/** CLI BPE trainer: learn a merge list from a parquet corpus and print
  * it one `left right` pair per line ([[graft.text.Bpe.parseMergeLines]]
  * format). This is how frozen vocabularies are minted — the
  * `q_bpe_learn1k` oracle replays the sf0.01 list this printed, and a
  * user curating at scale runs the same thing once per corpus and
  * ships the list to every downstream count/pack/sample job (training
  * is one word-frequency shuffle + a bounded driver loop; apply never
  * shuffles).
  *
  * Usage: runMain graft.BpeTrain <sfDir> <numMerges> [--bigrams]
  *   --bigrams: learn over adjacent-word-bigram pre-tokens
  *   ([[graft.text.Bpe.withBigramPreTokens]]) instead of plain words —
  *   the pre-token enrichment the 31-word synthetic vocabulary needs
  *   to make 1k merges learnable.
  */
object BpeTrain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: BpeTrain <sfDir> <numMerges> [--bigrams]")
    val sfDir = args(0)
    val numMerges = args(1).toInt
    val bigrams = args.contains("--bigrams")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.util.Sessions.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val (df, textCol) =
        if (bigrams)
          (graft.text.Bpe.withBigramPreTokens(docs, "text", "bg_text"),
            "bg_text")
        else (docs, "text")
      val merges = graft.text.Bpe.learn(df, textCol, numMerges)
      System.err.println(s"[bpe-train] learned ${merges.size} merges" +
        s" (asked $numMerges)")
      merges.foreach(m => println(s"${m.left} ${m.right}"))
    } finally spark.stop()
  }
}
