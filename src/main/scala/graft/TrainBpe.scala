package graft

import org.apache.spark.sql.functions.{col, explode}

import graft.functions.TextFunctions
import graft.operators.{Bpe, TokenizerArtifact, Vocab}

/** Regenerates [[graft.operators.TrainedMerges]] — the committed BPE merge
  * table — from a documents table: distributed word histogram, then the
  * driver-side merge loop. Usage:
  *
  *   sbt "runMain graft.TrainBpe [sfDir] [nMerges] [artifactDir]"
  *
  * Prints the Scala source of TrainedMerges to stdout; paste it over
  * `operators/TrainedMerges.scala`. The artifact is committed (not trained
  * per run) so queries and DuckDB oracles replay identical merges.
  *
  * With `artifactDir` (r17, verdict task 3) the SAME training run also
  * persists the directory form via [[TokenizerArtifact.save]]: the ordered
  * merge table plus the marked frequency-rank vocab the trained merges
  * induce on the training corpus — the (merges, vocab) pair an external
  * tokenizer stack loads, and what `artifacts/bpe_sf0.1` (committed) holds.
  * The tokenizer surface is artifact-first end to end: train → emit
  * directory → queries load the directory; the compiled constant remains
  * only as the oracle fixture that keeps the DuckDB SQL replayable.
  */
object TrainBpe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nMerges = args.lift(1).map(_.toInt).getOrElse(256)
    val artifactDir = args.lift(2)
    val spark = GraftSession.builder("local[8]", shufflePartitions = 8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the ENRICHED corpus (r12): training on the raw fixture saturated at
    // 89 merges over its 31 distinct words; the doc_id-seeded expansion is
    // what the tokenizer family tokenizes, so it is what training sees
    val docs = Tables.richDocuments(spark, sfDir)
    val hist = Bpe.wordHistogram(docs, col("text"), maxVocab = 4096)
    val merges = Bpe.trainMerges(hist, nMerges)
    artifactDir.foreach { ad =>
      val vocab = Vocab.frequencyRankVocab(
        docs.select(explode(
          TextFunctions.bpeTokensMarked(col("text"), merges)).as("token")))
      TokenizerArtifact.save(spark, merges, vocab, ad)
      System.err.println(s"tokenizer artifact written to $ad (merges + marked vocab)")
    }
    // escape control chars too: a token carrying a raw \n or \t (split is on
    // ' ' only) would otherwise emit uncompilable Scala source
    def lit(s: String) = "\"" + s.flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    println("package graft.operators")
    println()
    println(s"/** BPE merge table trained by `runMain graft.TrainBpe` on $sfDir")
    println(s"  * (maxVocab 4096, minPairCount 2, ${merges.size} merges; histogram of")
    println(s"  * ${hist.size} distinct words). GENERATED -- regenerate via TrainBpe")
    println("  * rather than editing.")
    println("  */")
    println("object TrainedMerges {")
    println("  val Merges: Seq[(String, String)] = Seq(")
    println(merges.map { case (a, b) => s"    (${lit(a)}, ${lit(b)})" }.mkString(",\n"))
    println("  )")
    println("}")
    spark.stop()
  }
}
