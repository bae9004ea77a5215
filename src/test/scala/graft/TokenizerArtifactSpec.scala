package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.operators.{Bpe, TokenizerArtifact}

/** Pins the persisted-tokenizer lifecycle (r16, verdict task 3): the
  * (merges, vocab) artifact round-trips parquet losslessly, and the
  * t14f/t14g encode queries CONSUME it — their plans read the saved vocab
  * instead of recomputing the corpus aggregate, and their output is
  * bit-identical to t14e's in-query computation.
  */
class TokenizerArtifactSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_tok_art_").toString

  private def run(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf)

  test("merges round-trip parquet in exact training order") {
    val dir = tmp()
    val vocab = Seq(("a", 3L, 1L)).toDF("token", "n_occurrences", "token_id")
    TokenizerArtifact.save(spark, Bpe.Merges, vocab, dir)
    val loaded = TokenizerArtifact.loadMerges(spark, dir)
    // BPE merge ORDER is the tokenizer — equality must be positional
    assert(loaded === Bpe.Merges)
  }

  test("vocab round-trips parquet bit-exactly") {
    val dir = tmp()
    val vocab = Seq(
      ("er</w>", 120L, 1L), ("qu", 40L, 2L), ("é", 7L, 3L)
    ).toDF("token", "n_occurrences", "token_id")
    TokenizerArtifact.save(spark, Seq(("a", "b")), vocab, dir)
    val loaded = TokenizerArtifact.loadVocab(spark, dir)
      .orderBy("token_id").collect().toSeq
    assert(loaded === vocab.orderBy("token_id").collect().toSeq)
  }

  test("t14f (lifecycle) and t14g (serve) hash-match t14e's in-query encode") {
    val base = run("t14e_bpe_encode").orderBy("doc_id", "pos").collect().toSeq
    assert(base.nonEmpty)
    assert(run("t14f_bpe_encode_artifact").orderBy("doc_id", "pos").collect().toSeq === base)
    assert(run("t14g_bpe_encode_serve").orderBy("doc_id", "pos").collect().toSeq === base)
  }

  test("the shipped artifact directory carries exactly the compiled merge table") {
    // artifacts/bpe_sf0.1 (committed) is TrainBpe's directory emission of
    // the SAME training run that generated TrainedMerges.scala; drift
    // between the two committed forms would silently split the tokenizer
    // surface into two different tokenizers
    val loaded = TokenizerArtifact.loadMerges(spark, TokenizerArtifact.shippedDir(spark))
    assert(loaded === Bpe.Merges)
  }

  test("the shipped artifact resolves from the code's checkout, not the working directory") {
    // a synthetic checkout: the root is the nearest build.sbt above the
    // compiled classes, wherever the JVM was started
    val root = java.nio.file.Files.createTempDirectory("graft_root_")
    java.nio.file.Files.createFile(root.resolve("build.sbt"))
    val classes = java.nio.file.Files.createDirectories(root.resolve("target/scala-2.13/classes"))
    assert(TokenizerArtifact.repoRootOf(classes).contains(root))
    assert(TokenizerArtifact.repoRootOf(root.getParent).isEmpty)
    // the default: this checkout's artifact, found from where the spec's
    // own classes were loaded (user.dir plays no part)
    val specClasses = java.nio.file.Paths.get(
      classOf[TokenizerArtifactSpec].getProtectionDomain.getCodeSource.getLocation.toURI)
    val expected = TokenizerArtifact.repoRootOf(specClasses).get.resolve("artifacts/bpe_sf0.1")
    assert(TokenizerArtifact.shippedDir(spark) == expected.toFile.getAbsolutePath)
  }

  test("t14h reproduces t14d from the artifact, and a tampered artifact CHANGES it") {
    val base = run("t14d_bpe_vocab_marked").orderBy("token_id").collect().toSeq
    assert(base.nonEmpty)
    // default shipped artifact == the compiled table's vocab, bit for bit
    assert(run("t14h_bpe_vocab_artifact").orderBy("token_id").collect().toSeq === base)
    // the no-compiled-table pin: point the conf at a TRUNCATED artifact
    // (first 10 merges only) — if t14h consulted Bpe.Merges anywhere, its
    // output could not move; it must re-tokenize under the loaded table
    val tampered = tmp()
    TokenizerArtifact.save(
      spark, Bpe.Merges.take(10),
      Seq(("a", 1L, 1L)).toDF("token", "n_occurrences", "token_id"), tampered)
    try {
      spark.conf.set(TokenizerArtifact.ShippedDirConf, tampered)
      val t = run("t14h_bpe_vocab_artifact").orderBy("token_id").collect().toSeq
      assert(t !== base, "tampered artifact produced the compiled-table vocab — " +
        "t14h is not actually loading its merges from the artifact")
    } finally spark.conf.unset(TokenizerArtifact.ShippedDirConf)
  }

  test("the artifact-encode plan READS the saved vocab, never recomputes it") {
    for (name <- Seq("t14f_bpe_encode_artifact", "t14g_bpe_encode_serve")) {
      val plan = run(name).queryExecution.optimizedPlan
      // the vocab side is a parquet SCAN of the artifact dir...
      val scans = plan.collect {
        case r: LogicalRelation => r.relation
      }.collect { case fs: HadoopFsRelation => fs.location.rootPaths.mkString(",") }
      assert(scans.exists(_.contains("vocab")),
        s"$name: no artifact vocab scan in plan (scans: $scans):\n$plan")
      // ...and no corpus-sized aggregate remains (t14e's vocabRank would
      // show as an Aggregate over the exploded token stream)
      val aggs = plan.collect { case a: Aggregate => a }
      assert(aggs.isEmpty, s"$name: unexpected aggregate (vocab recompute?):\n$plan")
    }
  }
}
