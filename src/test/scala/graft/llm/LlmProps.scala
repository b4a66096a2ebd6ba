package graft.llm

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.SparkSpec
import graft.core.Manifest

/** Property-based invariants for the llm operator layer. These spin real
  * Spark jobs per case, so the case counts are deliberately small (the
  * example-based LlmSpec/PackingSpec cover the fixed scenarios; these
  * sweep the input space for the algebraic guarantees). */
object LlmProps extends Properties("graft.llm") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)


  private val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps")
  private val docGen: Gen[String] =
    Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, wordGen).map(_.mkString(" ")))

  // -- packGreedy ------------------------------------------------------------

  property("packGreedy: no pack exceeds the budget unless a single doc does") =
    forAll(Gen.chooseNum(3, 20), Gen.nonEmptyListOf(docGen)) { (budget, texts) =>
      import SparkSpec.spark.implicits._
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val packed = Packing.packGreedy(docs, tokenBudget = budget, numBuckets = 4)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
      val byPack = packed.groupBy(_._3)
      byPack.forall { case (_, members) =>
        val total = members.map(_._2).sum
        total <= budget || members.length == 1
      }
    }

  property("packGreedy: pack_seq is contiguous from 0 in doc_id order") =
    forAll(Gen.chooseNum(3, 20), Gen.nonEmptyListOf(docGen)) { (budget, texts) =>
      import SparkSpec.spark.implicits._
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val packed = Packing.packGreedy(docs, tokenBudget = budget, numBuckets = 4)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getInt(3)))
      packed.groupBy(_._2).forall { case (_, members) =>
        members.sortBy(_._1).map(_._3).toSeq == members.indices.toSeq
      }
    }

  // -- connectedComponents ---------------------------------------------------

  private val edgeListGen: Gen[List[(Long, Long)]] =
    Gen.listOfN(8, for {
      a <- Gen.chooseNum(0L, 9L); b <- Gen.chooseNum(0L, 9L)
      if a != b
    } yield (math.min(a, b), math.max(a, b))).map(_.distinct)

  /** Reference union-find over the same edges. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  property("connectedComponents labels = min node id per component") =
    forAll(edgeListGen.suchThat(_.nonEmpty)) { edges =>
      import SparkSpec.spark.implicits._
      val pairs = edges.toDF("d1", "d2")
      val got = Dedup.connectedComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = unionFind(edges)
      got == want
    }

  property("connectedComponentsStar labels = union-find per component") =
    forAll(edgeListGen.suchThat(_.nonEmpty)) { edges =>
      import SparkSpec.spark.implicits._
      val pairs = edges.toDF("d1", "d2")
      val got = Dedup.connectedComponentsStar(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = unionFind(edges)
      got == want
    }

  // -- editDistancePairs -----------------------------------------------------

  property("editDistancePairs: no false negatives within first-token blocks") =
    forAll(Gen.chooseNum(1, 3), Gen.nonEmptyListOf(docGen)) { (maxDist, texts) =>
      import SparkSpec.spark.implicits._
      val docs = texts.distinct.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
      val df = docs.toDF("doc_id", "text")
      val got = Dedup.editDistancePairs(df, maxDist = maxDist)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // reference: brute force over pairs sharing the first token — the
      // documented blocking domain (the length-bucket overlap never drops
      // a within-maxDist pair, so it must not reduce this set)
      def lev(a: String, b: String): Int = {
        val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
          if (i == 0) j else if (j == 0) i else 0
        }
        for (i <- 1 to a.length; j <- 1 to b.length)
          d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
            d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        d(a.length)(b.length)
      }
      val want = (for {
        (id1, t1) <- docs; (id2, t2) <- docs
        if id1 < id2
        if t1.split(" ").head == t2.split(" ").head
        if lev(t1, t2) <= maxDist
      } yield (id1, id2)).toSet
      Prop(want.subsetOf(got)) :| s"missing ${want.diff(got)}"
    }

  // -- prefixFilteredJaccardPairs -------------------------------------------

  /** The PPJoin filters (prefix, length, positional) and their
    * epsilon-guarded ceil thresholds must NEVER drop a qualifying pair:
    * across random corpora and random thresholds the filtered path must
    * equal the plain inverted index exactly. This is the input-space
    * sweep for the float-ceil false-negative class (a fixed boundary
    * fixture lives in LlmSpec); small-vocab docs make exact-threshold
    * Jaccard values (e.g. 4/5) common, which is exactly where plain
    * `ceil` over a double product goes wrong. */
  property("prefixFilteredJaccardPairs ≡ plain inverted index on random corpora") =
    forAll(Gen.oneOf(0.5, 0.6, 2.0 / 3, 0.75, 0.8),
           Gen.chooseNum(2, 8).flatMap(n => Gen.listOfN(n, docGen))) { (t, texts) =>
      import SparkSpec.spark.implicits._
      val docs = texts.zipWithIndex.map { case (txt, i) => (i.toLong, txt) }
        .toDF("doc_id", "text")
      def norm(df: org.apache.spark.sql.DataFrame) = df
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val plain = norm(Dedup.ngramJaccardPairs(docs, minJaccard = t))
      val pref = norm(Dedup.prefixFilteredJaccardPairs(docs, minJaccard = t))
      Caches.release()
      Prop(plain == pref) :|
        s"t=$t missing=${plain.diff(pref)} extra=${pref.diff(plain)}"
    }

  // -- canonicalizeUrl -------------------------------------------------------

  private val urlGen: Gen[String] = for {
    scheme <- Gen.oneOf("http", "https", "HTTP")
    host <- Gen.oneOf("Ex.COM", "www.ex.com", "a.b.co.uk", "EX.com")
    port <- Gen.oneOf("", ":80", ":443", ":8080")
    path <- Gen.oneOf("", "/", "/a", "/a/b", "/a/", "/a//")
    query <- Gen.oneOf("", "?x=1", "?utm_a=1", "?x=1&utm_b=2",
      "?utm_a=1&x=2", "?utm_a=1&utm_b=2", "?xutm_b=1&y=2", "?q=utm_test")
    frag <- Gen.oneOf("", "#f", "#utm_x")
  } yield s"$scheme://$host$port$path$query$frag"

  /** Canonicalization must be a PROJECTION: applying it twice is the
    * same as once (otherwise two crawls of the same page could land on
    * different dedup keys depending on how often each was cleaned). */
  property("canonicalizeUrl is idempotent across the messy-URL space") =
    forAll(Gen.listOfN(8, urlGen)) { urls =>
      import SparkSpec.spark.implicits._
      val once = urls.toDF("url")
        .select(Domains.canonicalizeUrl(col("url")).as("c"))
        .collect().map(_.getString(0)).toSeq
      val twice = once.toDF("url")
        .select(Domains.canonicalizeUrl(col("url")).as("c"))
        .collect().map(_.getString(0)).toSeq
      Prop(once == twice) :| s"once=$once twice=$twice"
    }

  // -- Manifest (index versions) ----------------------------------------------------

  /** For ANY interleaving of publishes across logical names, the
    * manifest must keep these invariants (pure filesystem — no Spark):
    * resolve points at the LAST published dir of each name; at most the
    * live version and its immediate predecessor exist on disk; other
    * names' pointers survive each publish untouched. The example-based
    * LlmSpec covers the reader-retention story; this sweeps the
    * publish-order space. */
  property("IndexManifest: resolve-last, two-version retention, and " +
      "cross-name isolation under arbitrary publish sequences") =
    forAll(Gen.listOfN(6, Gen.oneOf("bands", "sigs", "postings"))) { seq =>
      val root = java.nio.file.Files
        .createTempDirectory("graft-manifest-prop-")
      try {
        val last = scala.collection.mutable.Map.empty[String, String]
        val prev = scala.collection.mutable.Map.empty[String, String]
        // plain dirs exist first (the pre-versioning layout)
        Seq("bands", "sigs", "postings").foreach(n =>
          java.nio.file.Files.createDirectories(root.resolve(n)))
        val ok = seq.forall { name =>
          val snap = Manifest.snapshot(root.toString)
          val v = Manifest.nextVersionDir(snap, name)
          java.nio.file.Files.createDirectories(root.resolve(v))
          Manifest.publishAll(snap, Map(name -> v))
          prev(name) = last.getOrElse(name, name)
          last(name) = v
          val resolved = Seq("bands", "sigs", "postings").forall { n =>
            Manifest.resolve(root.toString, n) ==
              s"$root/${last.getOrElse(n, n)}"
          }
          val retained = Seq("bands", "sigs", "postings").forall { n =>
            val s = java.nio.file.Files.list(root)
            val dirs =
              try {
                import scala.jdk.CollectionConverters._
                s.iterator().asScala.map(_.getFileName.toString)
                  .filter(d => d == n || d.startsWith(n + "_v")).toSet
              } finally s.close()
            // never published: the plain dir; otherwise exactly the
            // live version + its immediate predecessor (which is the
            // plain dir right after the first publish)
            val want =
              if (last.contains(n)) Set(last(n), prev(n)) else Set(n)
            dirs == want
          }
          resolved && retained
        }
        Prop(ok)
      } finally graft.core.Fs.deleteTree(root)
    }

  // -- gridDbscan ------------------------------------------------------------

  private val ptGen: Gen[(Double, Double)] = for {
    xi <- Gen.chooseNum(-8, 8); yi <- Gen.chooseNum(-8, 8)
  } yield (xi / 2.0, yi / 2.0) // quarter-cell grid at eps=1 forces collisions

  property("gridDbscan: same-cell points share a label; noise iff the 3x3 " +
      "neighborhood is below minPts; adjacent dense cells merge") =
    forAll(Gen.chooseNum(2, 6), Gen.nonEmptyListOf(ptGen)) { (minPts, pts) =>
      import SparkSpec.spark.implicits._
      val eps = 1.0
      val df = pts.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
        .toDF("id", "x", "y")
      val got = Density.gridDbscan(df, eps, minPts)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      Caches.release(); SparkSpec.spark.catalog.clearCache()
      // Scala reference of the cell geometry
      def cell(p: (Double, Double)) =
        (math.floor(p._1 / eps).toLong, math.floor(p._2 / eps).toLong)
      val byCell = pts.indices.groupBy(i => cell(pts(i)))
      val counts = byCell.view.mapValues(_.size).toMap
      def neigh(c: (Long, Long)) = (for {
        dx <- -1 to 1; dy <- -1 to 1
      } yield counts.getOrElse((c._1 + dx, c._2 + dy), 0)).sum
      val dense = counts.keySet.filter(c => neigh(c) >= minPts)
      val sameCell = byCell.values.forall(ids =>
        ids.map(i => got(i.toLong)).toSet.size == 1)
      val noiseRule = pts.indices.forall { i =>
        (got(i.toLong) == -1L) == !dense(cell(pts(i)))
      }
      val mergeRule = (for {
        a <- dense; b <- dense
        if math.abs(a._1 - b._1) <= 1 && math.abs(a._2 - b._2) <= 1
      } yield (byCell(a).head, byCell(b).head)).forall {
        case (i, j) => got(i.toLong) == got(j.toLong)
      }
      sameCell && noiseRule && mergeRule
    }

  // -- kCenterGreedy ----------------------------------------------------------

  private val vecGen: Gen[Seq[Float]] =
    Gen.listOfN(3, Gen.chooseNum(-10, 10).map(_ / 2.0f)).map(_.toSeq)

  property("kCenterGreedy: distinct selections, non-increasing selection " +
      "distances, and the Gonzalez coverage bound") =
    forAll(Gen.chooseNum(2, 5), Gen.nonEmptyListOf(vecGen)) { (k, vecs) =>
      import SparkSpec.spark.implicits._
      val kk = math.min(k, vecs.size)
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")
      val sel = Clustering.kCenterGreedy(df, "vec_id", "embedding", kk)
        .orderBy("step").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      SparkSpec.spark.catalog.clearCache()
      def q(v: Seq[Float]): Seq[Long] =
        v.map(x => math.floor(x.toDouble * 1000).toLong)
      def d2(a: Seq[Long], b: Seq[Long]): Long =
        a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
      val qs = vecs.map(q)
      val selIds = sel.map(_._2)
      val distinctSel = selIds.distinct.length == selIds.length
      val ds = sel.drop(1).map(_._3)
      val nonInc = ds.zip(ds.drop(1)).forall { case (a, b) => b <= a }
      // coverage: every point's min distance to the selected set is at
      // most the LAST selection distance (Gonzalez's 2-approx argument)
      val lastD = if (ds.nonEmpty) ds.last else 0L
      val coverage = sel.length < kk || vecs.indices.forall { i =>
        val md = selIds.map(sid => d2(qs(i), qs(sid.toInt))).min
        md <= lastD || selIds.contains(i.toLong)
      }
      distinctSel && nonInc && coverage
    }
}
