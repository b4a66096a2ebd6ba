package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Json

/** The bench harness's pure decision rules (r15 VERDICT #3): the
  * single-cell sanity rule must fire on a planted slowdown and stay
  * silent inside budget; every headline cell must name a registered
  * query; a failing cell is reported as failed, never as a time; and the
  * JSON renderer reproduces a committed BENCH_LAST.json. */
class BenchSpec extends AnyFunSuite {

  test("headline names are distinct and every one is a registered query") {
    val names = Bench.headline.map(_._1)
    assert(names.distinct === names, "duplicate headline cells")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, s"headline cells with no registered query: $unknown")
  }

  test("budget bar is max(2x frozen, 2 s) — the round-13 sub-second " +
      "floor") {
    assert(Bench.barSec("q_importance_dsir") === Some(2.0)) // 0.34 frozen
    assert(Bench.barSec("q_sim_nndescent") === Some(2 * 7.79))
    assert(Bench.barSec("no_such_query") === None)
  }

  test("planted slowdown: a cell over its own bar triggers the in-run " +
      "re-measure; inside-budget and unbudgeted cells never do") {
    // q_sim_nndescent frozen 7.79 -> bar 15.58: BENCH_r15's 26.8 s cell
    // is exactly the planted case the rule exists for
    assert(Bench.cellNeedsRerun("q_sim_nndescent", 26.8))
    assert(!Bench.cellNeedsRerun("q_sim_nndescent", 15.0))
    // sub-second cell under the 2 s floor: 3x frozen but under 2 s
    assert(!Bench.cellNeedsRerun("q_importance_dsir", 1.0))
    assert(Bench.cellNeedsRerun("q_importance_dsir", 2.1))
    // a query with no freeze cannot trigger (nothing to compare to)
    assert(!Bench.cellNeedsRerun("no_such_query", 100.0))
  }

  test("the I/O probe leaves no probe dir behind and reports a failed " +
      "probe as None instead of throwing") {
    val spark = SparkSpec.spark
    val dir = java.nio.file.Paths.get(graft.core.Fs.scratchRoot, "bench_io_probe")
    assert(Bench.calibrateIo(spark, 2).exists(_ > 0))
    assert(!java.nio.file.Files.exists(dir))
    // zero slices: spark.range rejects the probe's plan
    assert(Bench.calibrateIo(spark, 0).isEmpty)
    assert(!java.nio.file.Files.exists(dir))
  }

  test("the shared cell runner reports an unknown query as a failure, " +
      "not as a time") {
    val r = Bench.runCell(SparkSpec.spark, SparkSpec.sfDir, "q_no_such_query",
      _ => true)
    assert(r.isLeft, s"expected a failure, got $r")
  }

  test("a failed cell is listed under `failed` in both lines and counts " +
      "in neither `queries` nor `total`") {
    val ok = Bench.Cell("q1_pricing", 1.5, 0, None, Bench.Telemetry(1L, 2L, 0L, 3L))
    val (full, compact) = Bench.report(Bench.Run("/sf", Seq(ok),
      Seq("q_join_multi"), Seq(Bench.ProbePoint(0.54, false, false, Some(0.21)),
        Bench.ProbePoint(0.54, false, false, None))))
    for (line <- Seq(full, compact)) {
      val m = Json.parseJson(line)
      assert(m("failed") === List("q_join_multi"))
      assert(m("queries") === Map("q1_pricing" -> 1.5))
      assert(m("value") === 1.5)
      assert(m("calibration").asInstanceOf[Map[String, Any]]
        .apply("io_load_factor") == null)
    }
  }

  /** BENCH_LAST.json re-rendered from its own recorded inputs: same keys
    * (plus `failed`) at every level, recorded inputs equal, derived
    * figures within 0.002 (the committed probes are rounded to 3
    * digits), and the compact line inside the driver's 2000-char
    * window (the BENCH_r11 lesson). */
  test("the renderer reproduces the committed BENCH_LAST.json, and the " +
      "compact line for every headline cell fits the 2000-char window") {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("BENCH_LAST.json")), "UTF-8")
    val committed = Json.parseJson(text)
    def obj(m: Map[String, Any], k: String) = m(k).asInstanceOf[Map[String, Any]]
    def num(v: Any): Double = v.asInstanceOf[Number].doubleValue
    def nums(v: Any): Seq[Double] = v.asInstanceOf[Seq[Any]].map(num)
    val calib = obj(committed, "calibration")
    val reruns = obj(committed, "reruns")
    val tm = obj(committed, "task_metrics")
    val names = Bench.headline.map(_._1)
    val queries = obj(committed, "queries")
    assert(queries.keySet === names.toSet)
    val cells = names.map { n =>
      val t = obj(tm, n)
      Bench.Cell(n, num(queries(n)), names.indexOf(n) / Bench.SegmentLen,
        reruns.get(n).map { r =>
          val m = r.asInstanceOf[Map[String, Any]]
          (num(m("raw")), num(m("rerun")))
        },
        Bench.Telemetry(num(t("gc_ms")).toLong, num(t("peak_task_mem")).toLong,
          num(t("spill_bytes")).toLong, num(t("tasks")).toLong))
    }
    // no committed segment is suspect, so no probe point is
    assert(calib("suspect_segments") === Nil)
    val retried = 0.0 +: nums(calib("probe_retries"))
    val probes = nums(calib("probe_sec")).indices.map(i => Bench.ProbePoint(
      nums(calib("probe_sec"))(i), retried(i) == 1, suspect = false,
      Option(calib("io_probe_sec").asInstanceOf[Seq[Any]](i)).map(num)))
    val (full, compact) = Bench.report(Bench.Run(
      committed("sf").toString, cells, Nil, probes))

    val derived = Set("queries_normalized", "segment_factors",
      "load_factor", "io_load_factor", "value")
    def same(path: List[String], got: Any, want: Any): Unit = (got, want) match {
      case (g: Map[_, _], w: Map[_, _]) =>
        val extra = if (path.isEmpty) Set("failed") else Set.empty[String]
        assert(g.keySet.map(_.toString) === w.keySet.map(_.toString) ++ extra,
          path.reverse.mkString("."))
        w.foreach { case (k, v) =>
          same(k.toString :: path, g.asInstanceOf[Map[String, Any]](k.toString), v)
        }
      case (g: Seq[_], w: Seq[_]) =>
        assert(g.length === w.length, path.reverse.mkString("."))
        g.zip(w).foreach { case (a, b) => same(path, a, b) }
      case (g: Number, w: Number) =>
        val tol = if (path.exists(derived)) 0.002 else 1e-9
        assert(math.abs(g.doubleValue - w.doubleValue) <= tol,
          s"${path.reverse.mkString(".")}: $g vs $w")
      case _ => assert(got == want, path.reverse.mkString("."))
    }
    val rendered = Json.parseJson(full)
    same(Nil, rendered, committed)
    assert(rendered("failed") === Nil)

    val slim = Json.parseJson(compact)
    assert(slim.keySet === Set("metric", "value", "unit", "queries",
      "calibration", "failed", "sf"))
    assert(slim("queries") === rendered("queries"))
    assert(compact.length < 2000, s"compact line is ${compact.length} chars")
  }
}
