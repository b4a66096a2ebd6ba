package graft.queries

import graft.SparkSpec

/** Physical-plan shape assertions for the round-8 operators — the
  * .explain-and-iterate discipline, pinned so a refactor can't silently
  * degrade a candidate-generation plan into the quadratic shape these
  * operators exist to avoid. Qualitative (join strategy present/absent),
  * not node-count — AQE re-planning makes counts unstable. */
class QueryPlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString

  test("round-8 candidate-generation queries never plan a cartesian or " +
      "nested-loop join") {
    for (q <- Seq("q_boilerplate", "q_dedup_suffix", "q_url_dedup",
        "q_join_interval", "q_cdc_apply", "q_text_html_strip")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q plans a nested loop:\n$p")
      graft.llm.Caches.release()
      spark.catalog.clearCache()
    }
  }

  test("q_embed_covariance joins only via the deliberate 1-row broadcast") {
    val p = plan("q_embed_covariance")
    // the means fold is a 1-row broadcast cross — BNLJ by design; what
    // must NOT appear is a shuffled join of the d²-amplified pair table
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"pair table is being shuffled into a join:\n$p")
  }

  test("q_join_interval joins on the bin key, not a theta predicate") {
    val p = plan("q_join_interval")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), s"no equi-join found:\n$p")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"),
      s"interval join fell back to the quadratic path:\n$p")
  }

  test("16-band JPEG dhash candidates stay a banded equi-join, never " +
      "all-pairs") {
    // the widened lossless radius must not change the candidate SHAPE:
    // pairs come from the (block, block_val) equi-join at 16 bands
    // exactly as at 8
    val p = graft.llm.Dedup.imageDhashPairs(
        graft.llm.Multimodal.syntheticJpegPhashMedia(spark, 16, twins = 2),
        maxHamming = 12, numBands = 16)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"),
      s"JPEG banded candidates fell back to all-pairs:\n$p")
    graft.llm.Caches.release()
    spark.catalog.clearCache()
  }

  test("round-11 graph/dedup/LM operators never plan a cartesian or " +
      "nested-loop join") {
    // triangles: the wedge stage and (v,w) closure must stay equi-joins
    // (the whole point of degree orientation); kcore/labelprop/
    // trustrank: per-round joins are keyed; keep_best: label attach +
    // struct-max argmax; KN scoring: model joins broadcast (the 1-row
    // totals cross-join is a broadcast by construction, not a BNLJ over
    // data-sized inputs — still pinned against Cartesian)
    for (q <- Seq("q_graph_triangles", "q_graph_kcore",
        "q_graph_labelprop", "q_dedup_keep_best")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q plans a nested loop:\n$p")
      graft.llm.Caches.release()
      spark.catalog.clearCache()
    }
  }

  test("KN scoring joins per-doc n-grams against the broadcast model " +
      "(corpus text never shuffles into the model join)") {
    for (q <- Seq("q_lm_kneser_ney", "q_lm_kn_trigram")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: no broadcast probe:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
      graft.llm.Caches.release()
      spark.catalog.clearCache()
    }
  }

  test("unigram encode joins corpus words against the broadcast " +
      "vocabulary-bounded token table") {
    val p = plan("q_unigram_encode_pretrained")
    // text must never shuffle: the (word -> ntok) probe is a broadcast
    // hash join against the exploded corpus words
    assert(p.contains("BroadcastHashJoin"), s"no broadcast probe:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"unigram encode shuffles the corpus into a join:\n$p")
    graft.llm.Caches.release()
    spark.catalog.clearCache()
  }

  test("late-round-11 operators (clustering coefficient, HITS, k-hop, " +
      "robots) never plan a cartesian or nested-loop join") {
    for (q <- Seq("q_graph_clustercoef", "q_graph_hits", "q_graph_khop",
        "q_warc_robots", "q_graph_linkpred")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q plans a nested loop:\n$p")
      graft.llm.Caches.release()
      spark.catalog.clearCache()
    }
  }

  test("robots page filtering probes the host-bounded rule table via a " +
      "broadcast hash join (the prefix predicate rides as the join " +
      "filter; page rows never shuffle)") {
    val p = plan("q_warc_robots")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast probe:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"pages are being shuffled into the rule join:\n$p")
    graft.llm.Caches.release()
    spark.catalog.clearCache()
  }

  test("link extraction is joinless narrow work: the host-graph rollup " +
      "plans zero joins and the 16-step normalization chain stays " +
      "inside whole-stage codegen") {
    val df = graft.SparkEntry.queries("q_warc_hostgraph")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"extraction should not join:\n$p")
    // the resolution CASE + dot-segment chain must not fall out of
    // codegen: with fallback disabled a Janino over-size failure (seen
    // at 6 rounds with a per-branch chain) THROWS instead of silently
    // degrading to interpreted eval
    withSQLConf("spark.sql.codegen.fallback" -> "false") {
      assert(df.collect().nonEmpty)
    }
    graft.llm.Caches.release()
    spark.catalog.clearCache()
  }

  test("round-12 curation tier: entity resolution and paragraph dedup " +
      "plan only equi-joins; ROUGE-L stays codegen'd and joinless") {
    for (q <- Seq("q_entity_resolution", "q_dedup_paragraphs")) {
      val p = plan(q)
      // the sorted-neighborhood candidate join is rank = rank + offset
      // (equi on rb); the paragraph winner joins back on the hash — a
      // BNLJ/cartesian here is the quadratic blowup both ops exist to
      // avoid
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q plans a nested loop:\n$p")
      graft.llm.Caches.release()
      spark.catalog.clearCache()
    }
    // ROUGE-L is ONE codegen'd projection: no join, no exchange at all,
    // and the native LCS expression must survive fallback-disabled
    // codegen (a Janino failure throws instead of silently interpreting)
    val df = graft.SparkEntry.queries("q_eval_rouge_l")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin")
      && !p.contains("BroadcastHashJoin"),
      s"rouge_l should be joinless per-row work:\n$p")
    withSQLConf("spark.sql.codegen.fallback" -> "false") {
      assert(df.collect().nonEmpty)
    }
    graft.llm.Caches.release()
    spark.catalog.clearCache()
  }

  test("round-13 ANN margin mining plans no cartesian — candidates come " +
      "from the IVF cell equi-join, never all-pairs") {
    // the exact marginPairs is a deliberate crossJoin anchor at fixture
    // scale; the ANN path is the production shape and must never fall
    // back to it (a cartesian here is O(|src|·|tgt|) cosines — the
    // scale-killer the operator exists to avoid)
    val p = plan("q_sim_margin_ann")
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested loop in plan:\n$p")
    graft.llm.Caches.release()
    spark.catalog.clearCache()
  }

  test("round-13 compression signal is joinless per-row work and the " +
      "native deflate expression survives fallback-disabled codegen") {
    val df = graft.SparkEntry.queries("q_quality_compress")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // one projection per planted row + the per-source rollup: no joins
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin")
      && !p.contains("CartesianProduct"),
      s"compression signal should be join-free:\n$p")
    // a Janino failure in DeflateLenExpr's generated code must throw,
    // not silently degrade to interpreted eval (the ROUGE-L pin rule)
    withSQLConf("spark.sql.codegen.fallback" -> "false") {
      assert(df.collect().nonEmpty)
    }
    graft.llm.Caches.release()
    spark.catalog.clearCache()
  }

  test("BLEU clip join is keyed by the 8-byte gram fingerprint — gram " +
      "strings never reach an exchange") {
    // the ScaleCheck-adjudicated fix: string-keyed counts re-exchanged
    // full 4-gram strings once the clip join crossed broadcast→SMJ
    // (20× shuffle at 10×). The executed plan's exchanges must carry
    // the fingerprint column, not a gram string column
    val p = plan("q_eval_bleu")
    assert(p.contains("gh"), s"fingerprint column missing from plan:\n$p")
    // the final assembly is a DELIBERATE 1-row broadcast cross (wide ×
    // lens — the q_embed_covariance pattern), so BNLJ is expected; what
    // must not appear is a cartesian or a shuffled join keyed by a gram
    // STRING (the clip join's only string-typed key would be g)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.toLowerCase.matches("(?s).*sortmergejoin[^\\n]*\\bg#.*"),
      s"clip join keyed by the gram string:\n$p")
    graft.llm.Caches.release()
    spark.catalog.clearCache()
  }

  test("round-13 positional/linkage/clustering queries never plan a " +
      "cartesian or nested-loop join") {
    // phrase/proximity: postings-pruned equi-joins on (doc, pos/band) —
    // proximity's |a−b| ≤ k predicate must resolve through the band
    // keys, never a theta join; density: 9-offset equi-joins + CC;
    // fs-linkage: rank-window candidates + attribute equi-joins
    for (q <- Seq("q_retrieval_phrase", "q_retrieval_proximity",
        "q_cluster_density", "q_linkage_fs", "q_index_postings",
        // attribution: the 1h lookback must ride the hour-band equi-join
        "q_events_attribution")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q plans a nested loop:\n$p")
      graft.llm.Caches.release()
      spark.catalog.clearCache()
    }
    // rfm / t-closeness / ann-recall carry a DELIBERATE bounded
    // broadcast cross (the 1-row max-timestamp fold; the classes ×
    // buckets grid; the 10-query exact brute-force side) — pin only
    // that nothing data-sized shuffles into a cartesian
    for (q <- Seq("q_events_rfm", "q_privacy_tcloseness",
        "q_eval_ann_recall")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
      graft.llm.Caches.release()
      spark.catalog.clearCache()
    }
  }

  test("round-14 NB scoring plans no cartesian: the label grid rides a " +
      "broadcast, the model join is keyed") {
    // the per-(doc, label) grid is |docs| x |labels| by design, but it
    // must materialize through a BROADCAST of the handful of label rows
    // (a CartesianProduct here would shuffle the corpus per label), and
    // the vocabulary-bounded model joins by (label, term) key
    for (name <- Seq("q_class_nb_train", "q_class_nb_score")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name cartesian:\n$p")
    }
    graft.llm.Caches.release()
    spark.catalog.clearCache()
  }

  test("round-14 tombstone read filter never shuffles the index: the " +
      "cand_id predicate sits in a broadcast-scale probe plan") {
    // pending tombstones are request-scale by contract and read on the
    // driver; the read-path filter must never shuffle the index to apply
    // them, and it must be in the plan
    import SparkSpec.spark.implicits._
    val idx = tempDir("planshape-tomb-").toString + "/idx"
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    graft.llm.Similarity.writeIvfIndex(emb, idx, nlist = 4)
    graft.llm.Dedup.addTombstones(spark, idx, Seq(1L, 2L).toDF("vec_id"))
    val df = graft.llm.Similarity.ivfTopKIndexed(
      emb.filter(org.apache.spark.sql.functions.col("vec_id") < 3),
      idx, k = 3, nprobe = 4)
    val p = df.queryExecution.executedPlan.toString
    assert("""cast\(cand_id#\d+L? as string\) INSET""".r.findFirstIn(p)
      .isDefined, s"no cand_id tombstone predicate in plan:\n$p")
    // the whole probe plan is broadcast-scale: ANY sort-merge or
    // shuffled-hash join here means the probe join fell off the
    // broadcast path
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"tombstone/probe join fell to a shuffle join:\n$p")
    graft.llm.Caches.release()
    spark.catalog.clearCache()
  }
}
