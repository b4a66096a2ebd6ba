package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract hygiene: the invariants the external harness depends
  * on but would only fail on confusingly at round time. */
class SparkEntrySpec extends AnyFunSuite {

  test("every oracle key names a registered query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("session master: SPARK_GRAFT_MASTER, then spark-submit's " +
      "spark.master, then local[SPARK_GRAFT_CPUS]") {
    assert(SparkEntry.master(Map.empty, Map.empty) === "local[32]")
    assert(SparkEntry.master(Map("SPARK_GRAFT_CPUS" -> "8"), Map.empty)
      === "local[8]")
    assert(SparkEntry.master(
      Map("SPARK_GRAFT_MASTER" -> "local[2]", "SPARK_GRAFT_CPUS" -> "8"),
      Map("spark.master" -> "yarn")) === "local[2]")
    assert(SparkEntry.master(Map("SPARK_GRAFT_CPUS" -> "8"),
      Map("spark.master" -> "yarn")) === "yarn")
  }

  test("entry() returns rows on sf0.001 (the driver's t1 smoke gate)") {
    assert(SparkEntry.entry(SparkSpec.spark).count() > 0)
  }

  test("query names are unique, lowercase q_-prefixed identifiers") {
    val names = SparkEntry.queries.keySet
    assert(names.forall(_.matches("^q[0-9]?_?[a-z0-9_]+$")), {
      names.filterNot(_.matches("^q[0-9]?_?[a-z0-9_]+$")).toString
    })
  }

  test("no registered query emits a top-level container column") {
    // The driver harness canonical-sorts result frames via pandas and
    // hashes them dtype-sensitively. Two whole CLASSES of exact-math red
    // rows follow:
    //  - container cells (array/map/struct) are unhashable in the
    //    lexsort (rounds 12-13: q_sim_margin_pairs, q_index_postings);
    //  - BINARY cells are equally unhashable (bytearray — r14:
    //    q_scan_arrow, the same failure one type over), and raw
    //    TIMESTAMP / DECIMAL columns hash by REPRESENTATION (pandas
    //    datetime64 unit, decimal precision), so bit-identical values
    //    can still mismatch (r14: q_scan_avro_events, ns vs us).
    // Queries must reduce these to scalars/strings before registering
    // (array_join / md5-digest / to_json; hex for binary; unix_micros
    // for timestamps; integer micro-units for decimals) — this pins
    // that contract for every current and future query.
    import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType,
      DateType, DecimalType, MapType, StructType, TimestampNTZType,
      TimestampType}
    def container(dt: DataType): Boolean = dt match {
      case _: ArrayType | _: MapType | _: StructType => true
      case BinaryType | TimestampType | TimestampNTZType | DateType => true
      case _: DecimalType => true
      case _ => false
    }
    def offenders(schema: StructType): Seq[String] =
      schema.fields.collect {
        case f if container(f.dataType) => s"${f.name}:${f.dataType.simpleString}"
      }.toSeq
    // the checker itself must reject a planted violation of each class
    assert(offenders(SparkSpec.spark.sql(
      "SELECT array(1, 2) AS xs, map('a', 1) AS m, struct(1 AS a) AS st, 1 AS n"
    ).schema) === Seq("xs:array<int>", "m:map<string,int>", "st:struct<a:int>"))
    assert(offenders(SparkSpec.spark.sql(
      "SELECT unhex('ff') AS b, timestamp_micros(7) AS t, " +
        "CAST(1.25 AS DECIMAL(10,2)) AS d, current_date() AS dt, 1 AS n"
    ).schema) === Seq("b:binary", "t:timestamp", "d:decimal(10,2)",
      "dt:date"))
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val off =
        try offenders(fn(SparkSpec.spark, SparkSpec.sfDir).schema)
        catch { case e: Throwable =>
          Seq(s"<query failed to build: ${e.getClass.getSimpleName}>")
        }
      // release per-query persist()s the same way Verify does, or cached
      // blocks accumulate for the life of the suite JVM
      graft.llm.Caches.release()
      SparkSpec.spark.catalog.clearCache()
      if (off.isEmpty) None else Some(s"$name -> ${off.mkString(", ")}")
    }
    assert(bad.isEmpty, s"\ncontainer-typed output columns:\n${bad.mkString("\n")}")
  }

  test("the declared surface keeps growing, never silently shrinks") {
    // round-12 floor: 286 queries, ALL oracle-checked (round 12 adds
    // the MP3/MP4 header-walk manifests and the streaming
    // media-manifest ingest sharing the batch oracle; round 11
    // adds the JPEG perceptual-dedup gate, the unigram-LM tokenizer
    // trio [learn / encode / pretrained-encode with the full hard-EM
    // training replayed by the oracle], the closed IVF-PQ ingest loop,
    // the LSH parameter planner, phash clustering with a
    // recursive-closure oracle, hybrid BM25+cosine RRF retrieval,
    // label-propagation communities, the WordPiece learn/encode pair,
    // Kneser-Ney bigram+trigram scoring, degree-oriented triangle
    // counts, the rounds-bounded k-core peel, TrustRank, quality-aware
    // survivor selection, the local clustering coefficient, HITS
    // hubs/authorities, seed-set k-hop BFS, then the crawl→graph loop
    // [hyperlink extraction with RFC 3986 resolution, the host-level
    // web graph, PageRank over the crawled host graph] and the C4
    // line-level cleaning battery) — bump these when operators are
    // added so a bad refactor can't drop queries without failing CI
    // round-12 session-2 continuation raises the floor to 306: paragraph
    // dedup (Dolma), the privacy trio (k-anon / l-div / Datafly walk),
    // sorted-neighborhood entity resolution, the eval-metric tier (BLEU,
    // token F1, ROUGE-N, ROUGE-L via the native LCS kernel), Luhn PII
    // validation, the Zipf slope, and the stream-stream full outer join
    // ... then 311 with winnowing fingerprints + pairs (MOSS),
    // content-defined chunking + chunk dedup (LBFS), and the Markov
    // transition matrix over event streams
    // ... 313 with the Spark-4 native XML source + from_xml parsing,
    // 317 with chrF2, PMI collocations, term dispersion (Gries DP),
    // and the PSI drift audit, 318 with Jaro-Winkler candidate
    // verification through the DuckDB-calibrated native expression,
    // 319 with the integer-exact EWMA smoothing fold, and 321 with the
    // word2vec preprocessing pair (count^0.75 negative-sampling table,
    // frequent-word subsampling), 322 with TextRank keywords over
    // the word co-occurrence graph, 323 with RAKE keyphrases, and 325
    // with distinct-n diversity and TTR/Guiraud lexical richness,
    // and 326 with the Jensen-Shannon drift divergence; round 15
    // closes the measured-rebuild loop (q_sim_ivf_rebuild with the
    // straddled-near-twin recall proof, q_sim_graph_rebuild) → 374,
    // then q_sim_ivfpq_rebuild completes the family → 375
    assert(SparkEntry.queries.size >= 375,
      s"only ${SparkEntry.queries.size} queries registered")
    assert(SparkEntry.oracleSql.size >= 375,
      s"only ${SparkEntry.oracleSql.size} oracle-checked")
  }
}
