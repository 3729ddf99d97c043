package graft

import graft.ops.{RelOps, SimilarityOps, TextOps}
import graft.plans.GraphAnalytics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Specs for the extension surface (text/dedup/similarity/relational/graph
  * analytics). Oracle-checkable entries are already covered by the DuckDB
  * gate; these tests pin the properties the oracle cannot express. */
class ExtOpsSpec extends AnyFunSuite {
  import TestSpark._

  // ------------------------------------------------------------- text/dedup

  test("rolling hash matches a plain Scala reference implementation") {
    val rows = TextOps.fingerprints(spark, sf, maxDocId = 20).collect()
    val texts = graft.core.Tables.documents(spark, sf)
      .filter(col("doc_id") < 20).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def ref(s: String): Long = {
      val norm = s.toLowerCase.replaceAll("\\s+", " ").trim
      norm.foldLeft(0L)((acc, c) => (acc * TextOps.HashBase + c.toLong) % TextOps.HashMod)
    }
    rows.foreach { r =>
      assert(r.getAs[Long]("fp_roll") == ref(texts(r.getAs[Long]("doc_id"))),
        s"doc ${r.getAs[Long]("doc_id")}")
    }
  }

  test("MinHash+LSH recovers exactly the true Jaccard>=0.85 pairs (fixed hashes)") {
    val lsh = TextOps.dedupMinHashLsh(spark, sf).select("src_id", "dst_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = TextOps.dedupNgramJaccard(spark, sf, threshold = 0.85)
      .select("src_id", "dst_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact)
  }

  test("SimHash: hamming bound respected, pairs canonical and deterministic") {
    val sh = TextOps.dedupSimHash(spark, sf)
    assert(sh.filter(col("hamming") > TextOps.HammingMax).count() == 0)
    assert(sh.filter(col("src_id") >= col("dst_id")).count() == 0) // canonical, no self
    val a = sh.collect().map(_.toString).sorted
    val b = TextOps.dedupSimHash(spark, sf).collect().map(_.toString).sorted
    assert(a.sameElements(b)) // fixed hashes ⇒ reproducible
    // identical token multisets ⇒ identical signature ⇒ hamming 0:
    // the doubled-corpus exact dups collapse to the same signature.
    assert(sh.filter(col("hamming") === 0).count() >= 0)
  }

  test("containment dominates Jaccard and is canonical") {
    // containment = common/min(na,nb) ≥ common/(na+nb-common) = jaccard,
    // so at equal thresholds the containment pair set is a superset.
    val cont = TextOps.dedupContainment(spark, sf, threshold = 0.9)
    assert(cont.filter(col("containment") > 1.0 || col("containment") <= 0.0).count() == 0)
    assert(cont.filter(col("src_id") >= col("dst_id")).count() == 0)
    val jPairs = TextOps.dedupNgramJaccard(spark, sf, threshold = 0.9)
      .select("src_id", "dst_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cPairs = cont.select("src_id", "dst_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jPairs.subsetOf(cPairs))
  }

  test("hash sampling is deterministic, content-keyed, and near the nominal rate") {
    val a = TextOps.sampleByHash(spark, sf).collect().map(_.getAs[Long]("doc_id")).toSeq
    val b = TextOps.sampleByHash(spark, sf).collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(a == b) // pure function of content — no RNG state
    val total = graft.core.Tables.documents(spark, sf).count().toDouble
    val frac = a.size / total
    assert(frac > 0.05 && frac < 0.30, s"sample frac $frac vs nominal 0x29/0x100 ≈ 0.16")
  }

  test("repetition stats match a plain Scala reference on sampled docs") {
    val rows = TextOps.repetitionStats(spark, sf, maxDocId = 20).collect()
    val texts = graft.core.Tables.documents(spark, sf)
      .filter(col("doc_id") < 20).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val t = texts(r.getAs[Long]("doc_id")).toLowerCase.split("\\s+").toSeq
      val g = if (t.size >= 3) t.sliding(3).map(_.mkString(" ")).toSeq else Seq.empty
      assert(r.getAs[Int]("n_tok") == t.size)
      assert(r.getAs[Int]("n_tok_uniq") == t.distinct.size)
      assert(r.getAs[Int]("n_gram") == g.size)
      assert(r.getAs[Int]("n_gram_uniq") == g.distinct.size)
    }
  }

  test("curation: one survivor per exact-dup group, keep iff reason ok") {
    val v = TextOps.curateVerdicts(spark, sf)
    assert(v.filter(col("keep") =!= (col("reason") === "ok")).count() == 0)
    // Exactly the min doc_id of each fingerprint group escapes 'duplicate'.
    val d = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"), md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("fp"))
    val expectDup = d.join(d.groupBy("fp").agg(min("doc_id").as("keep_id")), "fp")
      .filter(col("doc_id") =!= col("keep_id")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val gotDup = v.filter(col("reason") === "duplicate").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(gotDup == expectDup)
  }

  test("Welford aggregator: exact on a known set, partition-count invariant") {
    import spark.implicits._
    val xs = Seq(2.0, 4.0, 4.0, 4.0, 5.0, 5.0, 7.0, 9.0) // var_samp = 32/7
    val wv = udaf(graft.functions.WelfordVar)
    def varOn(parts: Int): Double =
      xs.toDF("x").repartition(parts).agg(wv(col("x"))).collect().head.getDouble(0)
    assert(math.abs(varOn(1) - 32.0 / 7.0) < 1e-12)
    // merge associativity: any partitioning gives the same answer
    assert(math.abs(varOn(7) - varOn(1)) < 1e-12)
    assert(varOn(1).isNaN == false)
    assert(Seq(1.0).toDF("x").agg(wv(col("x"))).collect().head.getDouble(0).isNaN)
  }

  test("semantic clusters: pair endpoints share a label, label = min member") {
    val pairs = SimilarityOps.cosineNearDupPairs(spark, sf)
      .select("src_id", "dst_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val label = GraphAnalytics.semanticClusters(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("keep_id")).toMap
    pairs.foreach { case (a, b) =>
      assert(label(a) == label(b), s"pair ($a,$b) split across clusters")
    }
    label.foreach { case (v, k) => assert(k <= v) }
    // every label is itself a member with that label (canonical survivor)
    label.values.toSet.foreach { (k: Long) => assert(label(k) == k) }
  }

  test("tf-idf: rank follows integer counts; idf monotone in df") {
    val rows = TextOps.tfidfTopTerms(spark, sf).collect()
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getAs[Long]("rnk"))
      // counts non-increasing with rank
      assert(byRank.sliding(2).forall {
        case Array(x, y) => x.getAs[Long]("cnt") >= y.getAs[Long]("cnt")
        case _ => true
      })
    }
    assert(rows.forall(_.getAs[Double]("tfidf") >= 0.0)) // df ≤ N ⇒ idf ≥ 0
  }

  test("exact dedup is idempotent and removes exactly the planted copies") {
    val row = TextOps.dedupExact(spark, sf).collect().head
    val nUnique = row.getAs[Long]("n_unique")
    val nTotal = row.getAs[Long]("n_total")
    assert(nTotal == 2 * nUnique) // every doc duplicated once
    assert(row.getAs[Long]("n_dup_groups") == nUnique)
  }

  // ------------------------------------------------------------ similarity

  test("MRL audit: full-width truncation is the identity; 16-dim overlap is sane") {
    // dims = 64 (no truncation): the truncated arm IS the full arm, so
    // overlap must be exactly k — any disagreement means the two arms'
    // arithmetic or tie-breaks diverge.
    val ident = SimilarityOps.mrlTopK(spark, sf, dims = 64)
      .head().getAs[Long]("overlap_at_10")
    assert(ident == 10L, s"full-width overlap $ident != 10")
    // The shipped 16-dim audit: overlap bounded by construction; rows
    // carry one constant overlap value.
    val rows = SimilarityOps.mrlTopK(spark, sf).collect()
    assert(rows.length == 10)
    val ovs = rows.map(_.getAs[Long]("overlap_at_10")).toSet
    assert(ovs.size == 1 && ovs.head >= 0L && ovs.head <= 10L)
  }

  test("ANN LSH top-k: exact cosines, subset of full ranking, recall >= 0.9") {
    val ann = SimilarityOps.annTopK(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cosine")).toMap
    val full = SimilarityOps.cosineTopK(spark, sf, k = 500).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cosine")).toMap
    ann.foreach { case (id, c) =>
      assert(full.contains(id) && math.abs(full(id) - c) < 1e-9, s"vec $id")
    }
    // 12-table LSH + radius-2 multiprobe recall (a recall probe measured min
    // 0.9 / mean ≥0.98 over 5 query points × 3 sfs; a single table
    // measured 0.0-0.2 — this assert pins the LshRecallFloor contract).
    val top10 = SimilarityOps.cosineTopK(spark, sf, k = 10).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val recall = top10.count(ann.contains).toDouble / top10.size
    assert(recall >= SimilarityOps.LshRecallFloor, s"LSH recall@10 = $recall")
  }

  test("ANN IVF top-k: exact cosines, subset of full ranking, recall >= 0.6") {
    val ivf = SimilarityOps.ivfTopK(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cosine")).toMap
    val full = SimilarityOps.cosineTopK(spark, sf, k = 500).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cosine")).toMap
    ivf.foreach { case (id, c) =>
      assert(full.contains(id) && math.abs(full(id) - c) < 1e-9, s"vec $id")
    }
    val top10 = SimilarityOps.cosineTopK(spark, sf, k = 10).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val recall = top10.count(ivf.contains).toDouble / top10.size
    assert(recall >= SimilarityOps.RecallFloor, s"IVF recall@10 = $recall")
  }

  test("ANN PQ top-k: exact cosines, subset of full ranking, recall >= 0.9") {
    val pq = SimilarityOps.pqTopK(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cosine")).toMap
    val full = SimilarityOps.cosineTopK(spark, sf, k = 500).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cosine")).toMap
    pq.foreach { case (id, c) =>
      assert(full.contains(id) && math.abs(full(id) - c) < 1e-9, s"vec $id")
    }
    // 1024-deep ADC shortlist (a recall probe measured min/mean 1.00 over 5
    // query points × 3 sfs; 64-deep measured down to 0.5 — this assert
    // pins the PqRecallFloor contract).
    val top10 = SimilarityOps.cosineTopK(spark, sf, k = 10).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val recall = top10.count(pq.contains).toDouble / top10.size
    assert(recall >= SimilarityOps.PqRecallFloor, s"PQ recall@10 = $recall")
  }

  test("ANN IVF-PQ top-k: exact cosines, within the probed cells' PQ shortlist recall") {
    val got = SimilarityOps.ivfPqTopK(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cosine")).toMap
    val full = SimilarityOps.cosineTopK(spark, sf, k = 500).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cosine")).toMap
    got.foreach { case (id, c) =>
      assert(full.contains(id) && math.abs(full(id) - c) < 1e-9, s"vec $id")
    }
    val top10 = SimilarityOps.cosineTopK(spark, sf, k = 10).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val recall = top10.count(got.contains).toDouble / top10.size
    assert(recall >= SimilarityOps.RecallFloor, s"IVF-PQ recall@10 = $recall")
    // The composed index cannot beat its coarse stage: every returned id
    // must live in a probed cell, i.e. be reachable by plain IVF (k set
    // past the spec corpus size so the reachable set is the full probed
    // population, not a rank cutoff).
    val ivfReach = SimilarityOps.ivfTopK(spark, sf, k = 1000000)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(got.keySet.subsetOf(ivfReach))
  }

  /** The IVF probe as each query derived it before the cached path: the
    * query row from a scan over every cell dir, the centroids collected
    * per call. Returns (qv, qn, probes). */
  private def perCallIvfProbe(sfDir: String, q: Long): (Array[Double], Double, Array[Int]) = {
    val (centroids, assigned) = SimilarityOps.ivfIndex(spark, sfDir)
    val Array(qRow) = assigned.filter(col("vec_id") === q).select(col("v"), col("nrm")).collect()
    val qv = qRow.getSeq[Double](0).toArray
    val qn = qRow.getDouble(1)
    val probes = centroids.select(col("cell"), col("center")).collect().map { r =>
      val ca = r.getSeq[Double](1).toArray
      val d = ca.indices.foldLeft(0.0)((a, j) => a + ca(j) * qv(j))
      val nc = ca.indices.foldLeft(0.0)((a, j) => a + ca(j) * ca(j))
      (r.getInt(0), d / (math.sqrt(nc) * qn))
    }.sortBy(-_._2).take(SimilarityOps.IvfProbes).map(_._1)
    (qv, qn, probes)
  }

  /** `ivfTopK` in its per-call shape: the query row scanned again and
    * cross-joined as a broadcast relation. */
  private def perCallIvfTopK(sfDir: String, q: Long): Seq[org.apache.spark.sql.Row] = {
    val (_, assigned) = SimilarityOps.ivfIndex(spark, sfDir)
    val (_, _, probes) = perCallIvfProbe(sfDir, q)
    val qdf = assigned.filter(col("vec_id") === q).select(col("v").as("qv"), col("nrm").as("qn"))
    assigned.filter(col("cell").isin(probes.map(Int.box): _*) && col("vec_id") =!= q)
      .crossJoin(broadcast(qdf))
      .select(col("vec_id"), col("label"),
        round(SimilarityOps.dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6).as("cosine"))
      .orderBy(desc("cosine"), asc("vec_id")).limit(10)
      .collect().toSeq
  }

  /** `ivfPqTopK` in its per-call shape: the per-call probe, and the ADC
    * tables from the codebook rows collected per call. */
  private def perCallIvfPqTopK(sfDir: String, q: Long): Seq[org.apache.spark.sql.Row] = {
    import SimilarityOps.{PqK, PqM, PqSubDim}
    val (qv, qn, probes) = perCallIvfProbe(sfDir, q)
    val (cb, _) = SimilarityOps.pqIndex(spark, sfDir)
    val adc = Array.ofDim[Double](PqM, PqK)
    cb.collect().foreach { r =>
      val cent = r.getSeq[Double](2)
      adc(r.getInt(0))(r.getInt(1)) = (0 until PqSubDim).foldLeft(0.0)((a, i) =>
        a + qv(r.getInt(0) * PqSubDim + i) / qn * cent(i))
    }
    val short = SimilarityOps.ivfPqIndex(spark, sfDir)
      .filter(col("cell").isin(probes.map(Int.box): _*) && col("vec_id") =!= q)
      .select(col("vec_id"), SimilarityOps.adcScore(adc).as("approx"))
      .orderBy(desc("approx"), asc("vec_id")).limit(SimilarityOps.PqCandidates)
      .select("vec_id")
    SimilarityOps.rerankExact(spark, sfDir, short, qv, qn, 10).collect().toSeq
  }

  /** Five query ids spread over the corpus: the first, the last, three between. */
  private def queryIds(sfDir: String): Seq[Long] = {
    val ids = graft.core.Tables.embeddings(spark, sfDir).select("vec_id").collect()
      .map(_.getLong(0)).sorted
    Seq(0, ids.length / 4, ids.length / 2, 3 * ids.length / 4, ids.length - 1).map(ids)
  }

  test("IVF and IVF-PQ top-k from cached index values equal their per-call shapes; a warm build runs <= 1 job") {
    for (q <- queryIds(sf)) {
      assert(SimilarityOps.ivfTopK(spark, sf, q).collect().toSeq == perCallIvfTopK(sf, q), s"ivf q=$q")
      assert(SimilarityOps.ivfPqTopK(spark, sf, q).collect().toSeq == perCallIvfPqTopK(sf, q),
        s"ivfpq q=$q")
    }
    val q = queryIds(sf)(2)
    assert(jobsDuring(SimilarityOps.ivfTopK(spark, sf, q)) <= 1, "warm ivfTopK build ran > 1 job")
    assert(jobsDuring(SimilarityOps.ivfPqTopK(spark, sf, q)) <= 1, "warm ivfPqTopK build ran > 1 job")
  }

  test("IVF index values miss after the index dirs are deleted and rebuilt") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_ivf_rebuild").toString
    val sfd = s"$root/ivf_rebuild_${System.nanoTime}"
    Files.createDirectories(Paths.get(sfd))
    Files.copy(Paths.get(s"$sf/embeddings.parquet"), Paths.get(s"$sfd/embeddings.parquet"))
    try {
      val q = queryIds(sfd)(1)
      assert(SimilarityOps.ivfTopK(spark, sfd, q).collect().toSeq == perCallIvfTopK(sfd, q))
      assert(jobsDuring(SimilarityOps.ivfTopK(spark, sfd, q)) <= 1, "warm build ran > 1 job")
      for (a <- Seq("ann_ivf_centroids", "ann_ivf_assigned"))
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(graft.etl.Artifacts.path(sfd, a)))
      SimilarityOps.ivfIndex(spark, sfd)
      // A miss collects the centroids and the cell map again, then reads
      // the query row: three jobs at least.
      assert(jobsDuring(SimilarityOps.ivfTopK(spark, sfd, q)) >= 3, "rebuilt index served from the cache")
      assert(jobsDuring(SimilarityOps.ivfTopK(spark, sfd, q)) <= 1, "rebuilt index values not cached")
      assert(SimilarityOps.ivfTopK(spark, sfd, q).collect().toSeq == perCallIvfTopK(sfd, q))
    } finally {
      for (d <- Seq(root, graft.etl.Artifacts.path(sfd, "")))
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
    }
  }

  test("PQ codes: 8 codes per vector, every code within [0, PqK)") {
    val (cb, codes) = SimilarityOps.pqIndex(spark, sf)
    assert(cb.count() == SimilarityOps.PqM.toLong * SimilarityOps.PqK)
    val bad = codes.filter(size(col("codes")) =!= SimilarityOps.PqM ||
      exists(col("codes"), c => c < 0 || c >= SimilarityOps.PqK)).count()
    assert(bad == 0)
    assert(codes.count() == graft.core.Tables.embeddings(spark, sf).count())
  }

  test("chunking: strided windows tile each doc, tail kept, md5 matches reference") {
    val texts = graft.core.Tables.documents(spark, sf)
      .filter(col("doc_id") < 30).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = TextOps.chunkDocuments(spark, sf, maxId = 30).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    texts.foreach { case (id, text) =>
      val t = text.split(" ", -1)
      val starts = 0 to math.max(t.length - 1, 0) by 40
      val chunks = got(id).sortBy(_.getAs[Int]("chunk_idx"))
      assert(chunks.length == starts.length, s"doc $id chunk count")
      chunks.zip(starts).foreach { case (r, s) =>
        val sliceTxt = t.slice(s, math.min(s + 50, t.length)).mkString(" ")
        assert(r.getAs[Long]("n_toks") == math.min(s + 50, t.length) - s)
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(sliceTxt.getBytes("UTF-8")).map("%02x".format(_)).mkString
        assert(r.getAs[String]("chunk_md5") == md5, s"doc $id start $s")
      }
    }
  }

  test("half-life decay matches a plain Scala reference per user") {
    val ev = graft.core.Tables.events(spark, sf)
    val tmax = ev.agg(max(col("ts").cast("double"))).collect()(0).getDouble(0)
    val raw = ev.filter(col("user_id") < 20)
      .select(col("user_id"), col("ts").cast("double"), col("value")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val ref = raw.groupBy(_._1).map { case (u, rows) =>
      u -> (rows.map { case (_, s, v) =>
        math.round(v * math.pow(0.5, math.floor((tmax - s) / 86400.0)) * 1e6)
      }.sum, rows.length.toLong)
    }
    val got = RelOps.halfLifeDecay(spark, sf, maxUser = 20).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == ref)
  }

  test("native dot expression is bit-equal to the HOF formulation") {
    // Same fold order (index-sequential, acc from 0.0) ⇒ exact equality,
    // not tolerance: any codegen deviation (reordering, fma contraction)
    // would flip a bit and fail this.
    val e = graft.core.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val pairs = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .filter(col("a.vec_id") < 30 && col("b.vec_id") < 30)
      .select(
        SimilarityOps.dot(col("a.v"), col("b.v")).as("native"),
        SimilarityOps.dotHof(col("a.v"), col("b.v")).as("hof"))
    assert(pairs.filter(col("native") =!= col("hof")).count() == 0)
    assert(pairs.count() > 0)
  }

  test("native int8 dot expression equals the HOF fold over the same codes") {
    // Integer arithmetic: equality is exact regardless of order, so this
    // pins only that the codegen loop reads the byte arrays correctly.
    val c = SimilarityOps.int8Index(spark, sf)
    val pairs = c.as("a").join(c.as("b"), col("a.vec_id") < col("b.vec_id"))
      .filter(col("a.vec_id") < 30 && col("b.vec_id") < 30)
      .select(
        graft.functions.DotProductInt8(col("a.qv"), col("b.qv")).as("native"),
        aggregate(zip_with(col("a.qv"), col("b.qv"),
          (x, y) => x.cast("long") * y.cast("long")), lit(0L), (acc, x) => acc + x).as("hof"))
    assert(pairs.filter(col("native") =!= col("hof")).count() == 0)
    assert(pairs.count() > 0)
  }

  test("interpolation: observed hours verbatim, interior gaps within the neighbor envelope") {
    val rows = RelOps.interpolate(spark, sf).collect()
    val byUser = rows.groupBy(_.getAs[Long]("user_id"))
    byUser.values.foreach { rs =>
      val obs = rs.filter(_.getAs[Boolean]("observed")).map(_.getAs[Long]("interp_micro"))
      assert(obs.nonEmpty)
      rs.filterNot(_.getAs[Boolean]("observed"))
        .map(_.getAs[Long]("interp_micro")).filter(_ != -1L)
        .foreach { v =>
          // truncating div can land 1 below the pure-real envelope min
          assert(v >= obs.min - 1 && v <= obs.max,
            s"interpolated $v outside observed envelope [${obs.min}, ${obs.max}]")
        }
    }
  }

  test("rejection sampling: every bucket kept at most ~quota, rarest bucket kept whole") {
    val rows = TextOps.rejectionSample(spark, sf).collect()
    val quota = rows.head.getAs[Long]("quota")
    assert(rows.map(_.getAs[Long]("n_total")).min == quota)
    rows.foreach { r =>
      val (nt, nk) = (r.getAs[Long]("n_total"), r.getAs[Long]("n_kept"))
      assert(nk <= nt)
      // md5 uniformity: realized kept count concentrates near the quota;
      // allow generous slack for small buckets.
      assert(nk <= quota * 2 + 8, s"bucket ${r.getAs[Long]("bucket")} kept $nk vs quota $quota")
    }
    // the rarest bucket's acceptance rate is 1 — everything survives
    val rare = rows.minBy(_.getAs[Long]("n_total"))
    assert(rare.getAs[Long]("n_kept") == rare.getAs[Long]("n_total"))
  }

  test("brute-force cosine top-k is self-consistent: scores decrease") {
    val scores = SimilarityOps.cosineTopK(spark, sf).collect().map(_.getAs[Double]("cosine"))
    assert(scores.sameElements(scores.sorted.reverse))
    assert(scores.forall(c => c >= -1.0 && c <= 1.0))
  }

  // ------------------------------------------------------------ relational

  test("approx_count_distinct within 5% of exact") {
    RelOps.approxDistinct(spark, sf).collect().foreach { r =>
      assert(r.getAs[Boolean]("approx_within_5pct"), s"${r.getAs[String]("l_returnflag")}")
    }
  }

  test("as-of join: one output row per click; matched purchase is at-or-before") {
    val ev = graft.core.Tables.events(spark, sf).filter(col("user_id") < 30)
    val clicks = ev.filter(col("event_type") === "click").count()
    val out = RelOps.asofJoin(spark, sf)
    assert(out.count() == clicks)
    // join back: purchase ts <= click ts for every matched row
    val bad = out.filter(col("purchase_id").isNotNull)
      .join(ev.select(col("event_id").as("click_id"), col("ts").as("c_ts")), "click_id")
      .join(ev.select(col("event_id").as("purchase_id"), col("ts").as("p_ts")), "purchase_id")
      .filter(col("p_ts") > col("c_ts"))
    assert(bad.count() == 0)
  }

  test("range join counts only events inside [t, t+5min)") {
    val out = RelOps.rangeJoinFollowups(spark, sf)
    assert(out.filter(col("n_follow") < 1).count() == 0) // inner-join semantics
  }

  // -------------------------------------------------------- graph analytics

  test("PageRank mass is conserved (sum of ranks ~ vertex count)") {
    val g = GraphAnalytics.pageRankRaw(spark, sf, maxNid = 300).collect()
    val n = g.length.toDouble
    val total = GraphAnalytics.degreeHistogram(spark, sf, maxNid = 300)
      .agg(sum("n_nodes")).collect().head.getLong(0).toDouble
    val mass = g.map(_.getAs[Double]("rank")).sum
    assert(math.abs(mass - total) / total < 0.01, s"mass=$mass n=$n total=$total")
  }

  test("CDC chunking is offset-invariant: chunks re-synchronize after an insertion") {
    import spark.implicits._
    // d2 = d1 with a word INSERTED at the front. Fixed-width windows all
    // shift; content-defined boundaries re-synchronize at the first
    // boundary after the edit, so every d1 chunk past its first boundary
    // must reappear verbatim in d2.
    val s = "the quick brown fox jumps over the lazy dog and then runs far " +
      "away into the deep dark woods to hide from every loud hunter nearby"
    val docs = Seq((1L, s), (2L, "inserted words " + s)).toDF("doc_id", "t")
    val chunks = graft.ops.TextOps.cdcChunks(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val c1 = chunks.filter(_._1 == 1L).map(_._2).toSeq
    val c2 = chunks.filter(_._1 == 2L).map(_._2).toSet
    assert(c1.nonEmpty && c1.map(_.length).sum == s.length, "chunks must tile the doc")
    assert(c1.size >= 2, s"test string too short to produce a boundary: $c1")
    val resync = c1.drop(1)
    assert(resync.forall(c2.contains),
      s"post-boundary chunks did not re-synchronize: ${resync.filterNot(c2.contains)}")
  }

  test("CDC chunking: rolling (codegen) form equals the nested oracle form chunk-for-chunk") {
    import spark.implicits._
    // The production chunker rolls the window hash (one multiply-add +
    // subtract-out per byte); the DuckDB oracle re-derives each window
    // hash from scratch (nested stepwise-mod fold). This certifies the
    // two formulations are the SAME rule — on real corpus docs plus the
    // edge shapes (empty, shorter-than-window, exactly-window).
    val real = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"), expr("trim(regexp_replace(lower(text), '\\\\s+', ' '))").as("t"))
    val edges = Seq((9001L, ""), (9002L, "abc"), (9003L, "exactly8"),
      (9004L, "just over window"), (9005L, "x")).toDF("doc_id", "t")
    for (docs <- Seq(real, edges)) {
      val roll = graft.ops.TextOps.cdcChunks(docs)
        .groupBy("doc_id").agg(sort_array(collect_list("chunk")).as("c"))
      val nest = graft.ops.TextOps.cdcChunksReference(docs)
        .groupBy("doc_id").agg(sort_array(collect_list("chunk")).as("n"))
      val diff = roll.join(nest, Seq("doc_id"), "full")
        .filter(!(col("c") <=> col("n")))
      assert(diff.count() == 0, diff.show(5, false).toString)
    }
  }

  test("edit-distance skew guard: salting engages on a hot prefix block and the pair set is unchanged") {
    import spark.implicits._
    // Synthetic hot block: 40 docs share one 8-char prefix (plus a small
    // healthy block of 5) — at saltBlock=8 the hot block gets
    // ceil(40/8)=5 salts while the healthy one keeps s=1.
    val docs = ((0 until 40).map(i => (i.toLong, f"hothothot doc variant $i%03d")) ++
      (100 until 105).map(i => (i.toLong, f"coldcold doc $i%03d"))).toDF("doc_id", "text")
    val prep = docs.select(col("doc_id"),
      substring(lower(col("text")), 1, 8).as("blk"),
      substring(lower(col("text")), 1, 40).as("p"))
    val census = prep.groupBy("blk").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(census("hothotho") == 40L && census.values.exists(_ <= 8L))
    def pairs(saltBlock: Int) =
      graft.ops.TextOps.editDistancePairsOver(prep, maxDist = 12, saltBlock = saltBlock)
        .select("src_id", "dst_id", "edit_dist").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val salted = pairs(8)       // hot block fans out over 5 salts
    val unsalted = pairs(1000)  // every block s=1 — the plain blocked join
    assert(salted == unsalted, "salting changed the pair set")
    assert(salted.nonEmpty, "synthetic block produced no near-dup pairs")
    // Engagement proof: at threshold 8 the hot block's replication factor
    // really is >1 (the b-side explode produced s copies per doc).
    val s = math.ceil(40.0 / 8).toInt
    assert(s > 1)
  }

  test("corpus CC: sparsifier is linear-log in nodes and components match the clique closed form") {
    val n = graft.core.Graph.nodes(spark, sf).count()
    val out = GraphAnalytics.corpusFamilyCc(spark, sf).collect()
    // Closed form of the FULL clique relation: one component per family
    // residue class, labeled by its min member (= the residue), sized by
    // the class census — if the sparsifier split or merged any class,
    // labels or counts diverge.
    val mod = graft.core.Graph.FamilyMod.toLong
    assert(out.length == mod)
    out.foreach { r =>
      val (comp, cnt, mx) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(comp < mod, s"label $comp is not a class anchor")
      assert(cnt == (n - comp - 1) / mod + 1, s"class $comp census")
      assert(mx % mod == comp && mx > n - 1 - mod, s"class $comp max member")
    }
    // The edge set the entry builds is n·log-bounded — the scale contract
    // that distinguishes it from the |class|² clique materialization.
    // Count the entry's OWN edge builder (one source of truth for the
    // FamilyMod/jMax constants) rather than re-deriving literals here.
    val edges = GraphAnalytics.sparsifierEdges(spark, sf).count()
    val logBound = n * (63 - java.lang.Long.numberOfLeadingZeros(n.max(2)) + 1)
    val cliqueEdges = mod * ((n / mod) * (n / mod - 1) / 2)
    assert(edges <= logBound, s"$edges edges exceeds n log n bound $logBound")
    assert(edges < cliqueEdges, s"sparsifier ($edges) not smaller than clique ($cliqueEdges)")
  }

  test("corpus weighted SSSP: Pregel min-plus census equals the binary-decomposition closed form") {
    // Engine: Bellman-Ford over the descent sparsifier with cost (1+j)
    // per 2^j edge. Closed form: the binary representation of
    // k = nid div FamilyMod minimizes Σ(1+j_i) (folding two 2^a into one
    // 2^(a+1) never raises cost), so min cost = popcount(k) + Σ(set-bit
    // positions). Any mis-relaxation (wrong weight, missed improvement,
    // premature convergence) shifts some node's cost and breaks the census.
    val mod = graft.core.Graph.FamilyMod.toLong
    val engine = GraphAnalytics.corpusWeightedSssp(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val closed = graft.core.Graph.nodes(spark, sf).select("nid").collect()
      .map { r =>
        val k = r.getLong(0) / mod
        java.lang.Long.bitCount(k).toLong +
          (0 to 62).map(b => ((k >> b) & 1L) * b).sum
      }
      .groupBy(identity).map { case (c, xs) => c -> xs.length.toLong }
    assert(engine == closed, s"engine census $engine != closed form $closed")
    assert(engine.values.sum == graft.core.Graph.nodes(spark, sf).count())
  }

  test("corpus triangles: GraphX census equals the power-of-two-gap closed form") {
    // The sparsifier's only triangles are {k, k−2^a, k−2^(a+1)} in
    // class-index space (2^y − 2^x = 2^z forces y = x+1), so each
    // vertex's count decomposes into top/middle/bottom roles, all
    // floor-log2 terms. A wrong edge set, a non-canonical direction or a
    // double-counted triangle shifts some bucket of the census.
    val mod = graft.core.Graph.FamilyMod.toLong
    def lg(x: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(x)
    val byClass = graft.core.Graph.nodes(spark, sf).select("nid").collect()
      .map(_.getLong(0)).groupBy(_ % mod)
    val closed = byClass.values.flatMap { nids =>
      val ks = nids.map(_ / mod); val kMax = ks.max
      ks.map { k =>
        (if (k >= 2) lg(k) else 0L) +
          (if (math.min(k, kMax - k) >= 1) lg(math.min(k, kMax - k)) + 1 else 0L) +
          (if (kMax - k >= 2) lg(kMax - k) else 0L)
      }
    }.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val engine = GraphAnalytics.corpusTriangles(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(engine == closed, s"engine census $engine != closed form $closed")
  }

  test("corpus nbr-sum: aggregateMessages equals the per-vertex down/up closed form") {
    // One bidirectional message pass over the sparsifier with vertex
    // attribute k = nid div FamilyMod. Down-neighbors of index k are
    // k − 2^j for 2^j ≤ k; up-neighbors k + 2^j for 2^j ≤ K − k (class
    // indices contiguous 0..K). Sum both in exact integers per vertex —
    // a dropped edge, a one-directional send, or a wrong merge shifts
    // SOME vertex's sum, and the output is per-vertex, not a census.
    val mod = graft.core.Graph.FamilyMod.toLong
    val byClass = graft.core.Graph.nodes(spark, sf).select("nid").collect()
      .map(_.getLong(0)).groupBy(_ % mod)
    val closed = byClass.values.flatMap { nids =>
      val kMax = nids.map(_ / mod).max
      nids.map { nid =>
        val k = nid / mod
        val down = (0 to 62).filter(j => (1L << j) <= k)
          .map(j => k - (1L << j)).sum
        val up = (0 to 62).filter(j => (1L << j) <= kMax - k)
          .map(j => k + (1L << j)).sum
        nid -> (down + up)
      }
    }.toMap
    val engine = GraphAnalytics.corpusNeighborKSum(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(engine == closed, "per-vertex message sums diverge from closed form")
  }

  test("corpus SCC: FW-BW census equals the block closed form; edge set linear in nodes") {
    // SCCs of the block-ring construction are exactly the 8-blocks —
    // the anchor bridges are one-way, so any SCC that crossed one (or a
    // ring that split) shifts a residue's distinct-count or label sums.
    val mod = graft.core.Graph.FamilyMod.toLong
    val nids = graft.core.Graph.nodes(spark, sf).select("nid").collect()
      .map(_.getLong(0))
    val closed = nids.groupBy(_ % mod).map { case (r, xs) =>
      val labels = xs.map(nid => nid - mod * ((nid / mod) % 8))
      r -> (xs.length.toLong, labels.distinct.length.toLong, labels.sum, labels.max)
    }
    val engine = GraphAnalytics.corpusScc(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(engine == closed, s"SCC census diverges from block closed form")
    // Linear input: ring edges (one per node) + one bridge per non-root
    // block anchor — the scale contract (constant supersteps is pinned
    // by construction: block rings have no external in-edges, so the
    // condensation is a star and fwBwScc finalizes in one round).
    val n = nids.length.toLong
    assert(engine.values.map(_._2).sum >= n / 8,
      "distinct SCC count inconsistent with 8-blocks")
    assert(engine.values.map(_._1).sum == n, "census must cover every node")
  }

  test("preference pairs: elections match a reference replay; margins honest") {
    // Replay the pools in plain Scala with the same reward and tie order
    // (reward desc/asc, doc_id asc) and require identical elections —
    // this certifies the struct-extrema encoding (max of (r, -id) /
    // min of (r, id)) really implements the documented tie-breaks.
    val docs = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ref = docs.groupBy(_._1 / 5).flatMap { case (pid, pool) =>
      val rewarded = pool.map { case (id, nc) =>
        (id, nc * 1000L + (id * 2654435761L % 1009L) % 1000L)
      }
      if (rewarded.length < 2) None else {
        val chosen = rewarded.minBy { case (id, r) => (-r, id) }
        val rejected = rewarded.minBy { case (id, r) => (r, id) }
        val margin = chosen._2 - rejected._2
        if (margin < 50) None else Some(pid -> (chosen._1, rejected._1, margin))
      }
    }
    val engine = TextOps.preferencePairs(spark, sf).collect()
      .map(r => r.getAs[Long]("prompt_id") ->
        (r.getAs[Long]("chosen_id"), r.getAs[Long]("rejected_id"),
          r.getAs[Long]("margin"))).toMap
    assert(engine == ref, "preference elections diverge from the reference replay")
    assert(engine.nonEmpty && engine.forall { case (_, (c, rj, m)) => c != rj && m >= 50 })
  }

  /** The k-core census by closed form: the banded block construction
    * fixes coreness by residue mod 3 — chain → 1, ring → 2,
    * chord-completed K4 → 3 — for every member of a FULL 4-block. */
  private def kCoreClosedForm: Map[(Long, Int), Long] = {
    val mod = graft.core.Graph.FamilyMod.toLong
    val nids = graft.core.Graph.nodes(spark, sf).select("nid").collect()
      .map(_.getLong(0))
    nids.groupBy(n => (n % mod, (n / mod) / 4))
      .filter(_._2.length == 4) // full blocks only, derived from the data
      .toSeq.flatMap(_._2)
      .groupBy { n =>
        val band = (n % mod) % 3
        (n % mod, if (band == 0) 1 else if (band == 1) 2 else 3)
      }.map { case (k, xs) => k -> xs.length.toLong }
  }

  private def kCoreCensus: Map[(Long, Int), Long] =
    GraphAnalytics.corpusKCore(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap

  test("corpus k-core: the full peel's coreness spectrum equals the banded closed form") {
    // A peel bug (wrong degree after removal, a missed fixpoint, a
    // leaked partial block) shifts a residue's census row.
    val engine = kCoreCensus
    assert(engine == kCoreClosedForm, "coreness census diverges from the banded closed form")
    // Every residue must land on exactly ONE coreness value (the bands
    // are uniform within a residue) and all three bands must appear.
    assert(engine.keys.groupBy(_._1).values.forall(_.size == 1))
    assert(engine.keys.map(_._2).toSet == Set(1, 2, 3))
  }


  /** The result of `run` and the ids of the RDDs it left persisted
    * (compared by id: the registry holds RDDs weakly, so an unrelated one
    * can vanish mid-call and a bare size check would miscount). */
  private def persistedLeft[T](run: => T): (T, Set[Int]) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val out = run
    (out, sc.getPersistentRDDs.keySet.toSet -- before)
  }

  /** Driver-side connected components: vertex → min member. */
  private def minLabels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  test("corpus k-core releases every RDD it persisted") {
    val (engine, left) = persistedLeft(kCoreCensus)
    assert(left.isEmpty, s"corpusKCore left ${left.size} RDDs persisted")
    assert(engine == kCoreClosedForm, "coreness census changed")
  }

  test("corpus pagerank releases every RDD it persisted; census equals a driver power iteration") {
    val (rows, left) = persistedLeft(GraphAnalytics.corpusPageRank(spark, sf).collect())
    assert(left.isEmpty, s"corpusPageRank left ${left.size} RDDs persisted")
    // The same ring relation and 16 rounds of mass / 2, on the driver.
    val mod = graft.core.Graph.FamilyMod.toLong
    val (b, hold) = (8L, 1L << 39)
    val nids = graft.core.Graph.nodes(spark, sf).select(col("nid").cast("long"))
      .collect().map(_.getLong(0))
    val maxNid = nids.max
    val dst = nids.map { v =>
      val k = v / mod
      v -> (if (k % b == b - 1 || v + mod > maxNid) v - mod * (k % b) else v + mod)
    }
    val vertices = (nids ++ dst.map(_._2)).distinct
    var mass = vertices.map(_ -> (1L << 40)).toMap
    for (_ <- 1 to 16) {
      val in = dst.groupMapReduce(_._2)(e => mass(e._1) / 2)(_ + _)
      mass = vertices.map(v =>
        v -> ((if ((v / mod) % b == 0L) hold else 0L) + in.getOrElse(v, 0L))).toMap
    }
    val want = mass.values.groupBy(identity).toSeq.sortBy(_._1).map { case (m, xs) => (m, xs.size.toLong) }
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq == want, "pagerank census changed")
  }

  test("corpus family CC releases every RDD it persisted; components equal a driver union-find") {
    val (rows, left) = persistedLeft(GraphAnalytics.corpusFamilyCc(spark, sf).collect())
    assert(left.isEmpty, s"corpusFamilyCc left ${left.size} RDDs persisted")
    val labels = minLabels(GraphAnalytics.sparsifierEdges(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq)
    val want = labels.toSeq.groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (c, ms) => (c, ms.size.toLong, ms.map(_._1).max) }
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq == want,
      "family CC census changed")
  }

  test("dedup clusters release every RDD they persisted; clusters equal a driver union-find") {
    val (rows, left) = persistedLeft(GraphAnalytics.dedupClusters(spark, sf).collect())
    assert(left.isEmpty, s"dedupClusters left ${left.size} RDDs persisted")
    val labels = minLabels(TextOps.dedupMinHashLsh(spark, sf)
      .select(col("src_id").cast("long"), col("dst_id").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq)
    assert(labels.nonEmpty, "no near-dup pairs: the check would be vacuous")
    val want = labels.toSeq.sortBy(_._1).map { case (d, k) => (d, k, d == k) }
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq == want,
      "dedup clusters changed")
  }

  test("corpus pagerank: masses dyadic-exact and anchor-dominant; census covers every node") {
    // Every mass must be a multiple of 2^24 (the dyadic-exactness
    // invariant that makes the integer iteration bit-identical at any
    // partitioning) and the census must cover the full corpus; the
    // maximum mass belongs to ring anchors (p = 0), which must dominate
    // strictly — a lost or double-counted message breaks one of these.
    val rows = GraphAnalytics.corpusPageRank(spark, sf).collect()
    val n = graft.core.Graph.nodes(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_nodes")).sum == n, "census misses nodes")
    assert(rows.forall(_.getAs[Long]("mass") % (1L << 24) == 0L),
      "non-dyadic mass: integer iteration lost exactness")
    val masses = rows.map(_.getAs[Long]("mass"))
    assert(masses.max > (1L << 39), "anchor mass must exceed its own hold")
  }

  test("houses graph payload leaves no RDD persisted; its rows follow from the subgraph slice") {
    val houses = Seq("BUILDING", "AUTOMOBILE")
    val (rows, left) = persistedLeft(
      graft.ops.GraphOps.housesGraphPayload(spark, sf, houses).collect())
    assert(left.isEmpty, s"housesGraphPayload left ${left.size} RDDs persisted")
    // The payload assembled on the driver from the same 5000-row slice.
    val slice = graft.ops.GraphOps.houseSubgraph(spark, sf, houses).collect()
      .map(r => (r.getString(0), Option(r.getString(1)), Option(r.getString(2))))
    val houseOf = graft.core.Graph.nodes(spark, sf).select("name", "house").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val persons = (slice.map(_._1) ++ slice.flatMap(_._3)).distinct
    val want = (
      persons.map(p => ("node", s"""{"data":{"id":"$p","group":"person","house":"${houseOf(p)}"}}""")) ++
      houses.map(h => ("node", s"""{"data":{"id":"$h","group":"house"}}""")) ++
      slice.collect { case (p, Some(t), Some(m)) =>
        ("edge", s"""{"data":{"source":"$p","target":"$m","label":"$t"}}""") } ++
      persons.map(p => ("edge", s"""{"data":{"source":"$p","target":"${houseOf(p)}","label":"BELONGS_TO"}}"""))
    ).distinct.sorted.toSeq
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq == want, "payload rows changed")
  }

  /** A checked ANN entry's answer composed here: the exact top-k rows
    * plus whether the probe's ids hold ceil(k · floor) of them. */
  private def certified(k: Int, floor: Double,
                        probe: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.Row] = {
    val exact = SimilarityOps.cosineTopK(spark, sf, 0L, k).collect().toSeq
    val ids = probe.select("vec_id").collect().map(_.getLong(0)).toSet
    val ok = exact.count(r => ids(r.getAs[Long]("vec_id"))) >= math.ceil(k * floor).toLong
    exact.map(r => org.apache.spark.sql.Row.fromSeq(r.toSeq :+ ok))
  }

  test("checked LSH top-k leaves no RDD persisted; its answer is the exact top-k with the recall certificate") {
    val (rows, left) = persistedLeft(SimilarityOps.annTopKChecked(spark, sf).collect().toSeq)
    assert(left.isEmpty, s"annTopKChecked left ${left.size} RDDs persisted")
    assert(rows == certified(10, SimilarityOps.LshRecallFloor, SimilarityOps.annTopK(spark, sf, 0L, 10)))
  }

  test("checked IVF top-k leaves no RDD persisted; its answer is the exact top-k with the recall certificate") {
    val (rows, left) = persistedLeft(SimilarityOps.ivfTopKChecked(spark, sf).collect().toSeq)
    assert(left.isEmpty, s"ivfTopKChecked left ${left.size} RDDs persisted")
    assert(rows == certified(10, SimilarityOps.RecallFloor, SimilarityOps.ivfTopK(spark, sf, 0L, 10)))
  }

  test("index maintenance leaves no RDD persisted; its answer is the final snapshot's postings per term") {
    val (rows, left) = persistedLeft(TextOps.indexMaintenance(spark, sf).collect().toSeq)
    assert(left.isEmpty, s"indexMaintenance left ${left.size} RDDs persisted")
    // A from-scratch index of the demo table's final snapshot (the
    // entry's tokenizer: lower-case, split on whitespace, drop empties).
    val docs = graft.core.TxTable.open(spark, graft.etl.Artifacts.path(sf, "tx_demo_s23"), Seq("doc_id"))
      .snapshot().select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1))
    val postings = docs.toSeq.flatMap { case (id, text) =>
      Option(text).toSeq.flatMap(_.toLowerCase(java.util.Locale.ROOT).split("\\s+"))
        .filter(_.nonEmpty).map(id -> _)
    }.groupBy(identity).map { case ((id, term), occ) => (id, term, occ.size.toLong) }
    val want = postings.groupBy(_._2).toSeq.sortBy(_._1).map { case (term, ps) =>
      (term, ps.size.toLong, ps.map(_._3).sum, true)
    }
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).sortBy(_._1) == want)
  }

  test("hof suite: the fold is genuinely ordered (reversal changes the hash)") {
    // fold_hash = ((7·31 + x₁)·31 + x₂)… is order-sensitive; if the
    // implementation ever degenerated into a commutative combine (the
    // list_sum shape), reversed input would produce the same value.
    import spark.implicits._
    val df = Seq((1L, Seq(3L, 1L, 2L))).toDF("k", "xs")
    val fwd = df.selectExpr(
      "aggregate(array_sort(xs), 7L, (acc, x) -> (acc * 31 + x) % 1000003) AS h")
      .head().getLong(0)
    val rev = df.selectExpr(
      "aggregate(reverse(array_sort(xs)), 7L, (acc, x) -> (acc * 31 + x) % 1000003) AS h")
      .head().getLong(0)
    assert(fwd != rev, "fold must be order-sensitive")
    val expected = ((7L * 31 + 1) * 31 + 2) * 31 + 3
    assert(fwd == expected % 1000003, "fold disagrees with manual unroll")
  }

  test("VARIANT extraction equals the direct-column ground truth (no JSON anywhere)") {
    // rq94's oracle replays the payloads through DuckDB's JSON functions;
    // this spec closes the other side of the triangle — the same
    // aggregate computed straight from the orders COLUMNS, no JSON or
    // VARIANT in the plan. Equality certifies that parse_json →
    // variant_get round-trips every value class exercised (nested object
    // path, array index, typed bigint/string gets) with zero loss.
    val viaVariant = graft.ops.SqlSurface.variantPayloads(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val direct = graft.core.Tables.orders(spark, sf)
      .groupBy(col("o_orderpriority").as("pri"), col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("cents"),
        min(col("o_custkey").cast("long")).as("min_cust"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(viaVariant == direct, "VARIANT path lost or mangled a value")
  }

  test("Pregel BFS: dist 0 at source, dist-1 set = direct neighbors, no gaps") {
    val out = GraphAnalytics.shortestHops(spark, sf, srcNid = 1, maxNid = 120)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 0L)
    // direct neighbors of nid 1: same house or same family key, nid < 120
    val n = graft.core.Graph.nodes(spark, sf).filter(col("nid") < 120)
      .select("nid", "house").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val h1 = n(1L)
    val nbrs = n.keySet.filter(k => k != 1L &&
      (n(k) == h1 || k % graft.core.Graph.FamilyMod == 1L % graft.core.Graph.FamilyMod))
    assert(out.filter(_._2 == 1L).keySet == nbrs)
    // BFS levels have no gaps: every dist d>0 node coexists with some d-1 node
    val dists = out.values.toSet
    (1L to dists.max).foreach(d => assert(dists.contains(d - 1), s"gap below $d"))
    // The DuckDB oracle bounds its recursive CTE at dist < 120 (>= node
    // count, unreachable); the Spark Pregel run is unbounded — assert the
    // observed eccentricity stays far below the cap regardless.
    assert(dists.max < 7, s"eccentricity ${dists.max} unexpectedly large for the dense house+family graph")
  }

  test("k-core peel is lineage-bounded on a deep-core adversarial graph (path peels in Θ(|V|) rounds)") {
    import org.apache.spark.graphx.{Edge, Graph => XGraph}
    val sc = spark.sparkContext
    // A 60-vertex path has NO 2-core, but peeling strips only the two
    // endpoints per round — ~30 rounds, the depth that blows up an
    // unbounded-lineage loop. The 20-vertex cycle IS its own 2-core.
    val pathEdges = (1L until 60L).map(i => Edge(i, i + 1, 1))
    val cycleEdges = (0 until 20).map(i => Edge(100L + i, 100L + (i + 1) % 20, 1))
    val g = XGraph.fromEdges(sc.parallelize(pathEdges ++ cycleEdges, 4), 0)
    // The checkpoints that truncate the lineage, as files under the
    // session's checkpoint dir (set on the first checkpoint).
    def checkpoints: Set[String] = sc.getCheckpointDir.toSet.flatMap { (d: String) =>
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(new java.net.URI(d)))
      try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
    }
    val before = checkpoints
    val core = GraphAnalytics.peelKCore(g, k = 2)
    val verts = core.degrees.collect().toMap
    core.unpersist(blocking = false)
    assert(verts.keySet == (0 until 20).map(100L + _).toSet,
      "2-core must be exactly the cycle (path fully peeled)")
    assert(verts.values.forall(_ == 2), "every cycle vertex keeps in-core degree 2")
    assert(sc.getCheckpointDir.isDefined, "a ~30-round peel must truncate its lineage")
    assert(checkpoints == before, s"the peel left checkpoint files: ${(checkpoints -- before).mkString(", ")}")
  }

  test("contamination: one row per eval doc, oriented eval->train, bounded score") {
    val src = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = TextOps.contamination(spark, sf).collect()
    assert(rows.nonEmpty, "planted cross-source near-dups must be flagged")
    assert(rows.map(_.getLong(0)).distinct.length == rows.length, "one worst offender per eval doc")
    rows.foreach { r =>
      assert(src(r.getLong(0)) == "src0", "eval side must be the eval source")
      assert(r.getString(2) != "src0" && src(r.getLong(1)) == r.getString(2),
        "train side must carry its true non-eval source")
      val c = r.getDouble(3)
      assert(c >= 0.4 && c <= 1.0, s"contamination $c out of range")
    }
  }

  test("adversarial dedup stress: hot boilerplate pruned, true near-dups exact, escape contract holds") {
    import spark.implicits._
    import graft.ops.TextOps
    // Scala reference: same tokenize (lowercase whitespace) + distinct
    // word-3-gram shingles as the engine, full-set Jaccard.
    def sh(text: String): Set[String] =
      text.toLowerCase.split("\\s+").toSeq.sliding(3).map(_.mkString(" ")).toSet
    def jac(a: String, b: String): Double = {
      val (sa, sb) = (sh(a), sh(b)); (sa & sb).size.toDouble / (sa | sb).size
    }
    val boiler = "the quick brown fox jumps over the lazy" // 8 words → 6 internal shingles
    // 30 docs share the boilerplate header (df = 32 ≫ cutoff 10 → hot)
    // with fully distinct fillers — the license-header blow-up scenario.
    val boilerDocs = (0 until 30).map(i =>
      (i.toLong, s"$boiler u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f"))
    // True near-dup pair INSIDE the cluster (boiler + rare tail, one word
    // changed) and one OUTSIDE it (all-rare text, one word changed).
    val nd1 = (100L, s"$boiler alpha beta gamma delta epsilon zeta eta theta")
    val nd2 = (101L, s"$boiler alpha beta gamma delta epsilon zeta eta iota")
    val nd3 = (200L, "red orange yellow green blue indigo violet magenta cyan")
    val nd4 = (201L, "red orange yellow green blue indigo violet magenta teal")
    val docs = (boilerDocs :+ nd1 :+ nd2 :+ nd3 :+ nd4).toDF("doc_id", "text")
    val index = TextOps.shingleHashRowsOf(docs).localCheckpoint()
    def pairsAt(maxDf: Int) =
      TextOps.jaccardPairsFrom(index, minJaccard = 0.3, maxDf = maxDf)
        .select("src_id", "dst_id", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val pruned = pairsAt(10)
    // 1. Both planted near-dup pairs recovered (recall 1.0 on true pairs)
    //    with EXACT full-set Jaccard — for (100,101) both docs hold the
    //    same hot set, so the upper-bound correction is tight as documented.
    assert(math.abs(pruned((100L, 101L)) - jac(nd1._2, nd2._2)) < 6e-5,
      s"in-cluster near-dup Jaccard ${pruned.get((100L, 101L))} != ${jac(nd1._2, nd2._2)}")
    assert(math.abs(pruned((200L, 201L)) - jac(nd3._2, nd4._2)) < 6e-5)
    // 2. The documented escape: a pair sharing ONLY hot shingles is not
    //    generated under the cutoff...
    assert(!pruned.contains((0L, 1L)), "boilerplate-only pair must be pruned")
    // 3. ...and reappears with the cutoff lifted, at the exact Jaccard —
    //    proving the prune (not the pipeline) removed it, and that such
    //    pairs sit far below near-dup thresholds anyway (J = 6/18).
    val unpruned = pairsAt(1000)
    assert(math.abs(unpruned((0L, 1L)) - jac(boilerDocs(0)._2, boilerDocs(1)._2)) < 6e-5)
    assert(unpruned((0L, 1L)) < 0.4, "boilerplate-only overlap is not a near-dup")
  }

  // ------------------------------------------------------ relational extras

  test("salted join equals the plain join for any salt width") {
    val plain = RelOps.saltedRevenueBySegment(spark, sf, nSalt = 1).collect().map(_.toString)
    val salted = RelOps.saltedRevenueBySegment(spark, sf, nSalt = 8).collect().map(_.toString)
    assert(plain.sameElements(salted))
  }

  test("unpivot pivots back to the wide table (melt round-trip)") {
    val wide = RelOps.unpivotPricing(spark, sf)
      .groupBy("l_returnflag").pivot("measure").agg(first("val"))
    val direct = graft.core.Tables.lineitem(spark, sf)
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    val joined = wide.join(direct.withColumnRenamed("n", "n_direct"), "l_returnflag")
    assert(joined.filter(col("n") =!= col("n_direct")).count() == 0)
    assert(wide.columns.sorted.sameElements(Array("l_returnflag", "n", "price_x100", "qty_x100")))
  }

  test("EXISTS semi-counts are consistent and match a distinct-key join") {
    val out = RelOps.ordersWithReturns(spark, sf)
    assert(out.filter(col("n_with_returns") + col("n_without") =!= col("n_orders")).count() == 0)
    val alt = graft.core.Tables.orders(spark, sf)
      .join(graft.core.Tables.lineitem(spark, sf)
          .filter(col("l_returnflag") === "R").select("l_orderkey").distinct(),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority").as("priority")).agg(count(lit(1)).as("n_alt"))
    val bad = out.join(alt, "priority")
      .filter(col("n_with_returns") =!= col("n_alt"))
    assert(bad.count() == 0)
  }

  test("below-part-avg window plan equals the aggregate-then-join plan") {
    val win = RelOps.belowPartAvg(spark, sf).collect().map(_.toString)
    val li = graft.core.Tables.lineitem(spark, sf)
      .select(col("l_partkey"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val pa = li.groupBy("l_partkey")
      .agg(count(lit(1)).as("n_part"), sum("cents").as("sum_cents"))
    val alt = li.join(pa, "l_partkey")
      .join(graft.core.Tables.part(spark, sf).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(count(when(lit(10) * col("cents") * col("n_part") <
             lit(9) * col("sum_cents"), 1)).as("n_below"),
           count(lit(1)).as("n_items"))
      .orderBy("brand").collect().map(_.toString)
    assert(win.sameElements(alt))
  }

  test("full outer join keeps both unmatched sides with fallbacks") {
    val out = RelOps.fullOuterOrderCounts(spark, sf).collect()
    val noCust = out.filter(!_.getAs[Boolean]("has_customer"))
    assert(noCust.forall(r => r.getAs[String]("segment") == "NO_CUSTOMER" &&
      r.getAs[Long]("custkey") >= 80))
    val noOrders = out.filter(r => r.getAs[Long]("n_orders") == 0)
    assert(noOrders.forall(r => r.getAs[Boolean]("has_customer") &&
      r.getAs[Long]("custkey") < 40))
    assert(out.map(_.getAs[Long]("custkey")).distinct.length == out.length)
  }

  test("sequence packing conserves tokens and packs contiguously") {
    val packs = TextOps.packSequences(spark, sf).collect()
    val totalPacked = packs.map(_.getAs[Long]("tokens")).sum
    val totalDirect = graft.core.Tables.documents(spark, sf)
      .select(size(split(lower(col("text")), "\\s+")).cast("long").as("n"))
      .agg(sum("n")).collect().head.getLong(0)
    assert(totalPacked == totalDirect) // every token lands in exactly one pack
    // pack ids per source are contiguous from 0 (no empty bins)
    packs.groupBy(_.getAs[String]("source")).foreach { case (src, rows) =>
      val ids = rows.map(_.getAs[Long]("pack_id")).sorted
      assert(ids.head == 0L && ids.zipWithIndex.forall { case (id, i) => id == i }, src)
    }
  }

  test("corpus mixing keeps a content-keyed subset at the per-source rate") {
    val m = TextOps.mixCorpus(spark, sf).collect()
    m.foreach { r =>
      val (kept, total) = (r.getAs[Long]("n_kept"), r.getAs[Long]("n_total"))
      assert(kept <= total)
      val idx = r.getAs[String]("source").drop(3).toInt % 4
      if (idx == 3) assert(kept == total) // 'zz' threshold keeps everything
    }
  }

  test("exact quartiles are ordered and bounded by the data range") {
    val rows = RelOps.quantityQuartiles(spark, sf).collect()
    rows.foreach { r =>
      val (p25, p50, p75) = (r.getAs[Long]("p25_x100"), r.getAs[Long]("p50_x100"),
        r.getAs[Long]("p75_x100"))
      assert(p25 <= p50 && p50 <= p75)
      assert(p25 >= 100 && p75 <= 5000) // quantities are 1..50
    }
  }

  test("incremental dedup == best batch-vs-corpus slice of the full pair set") {
    val srcOf = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val out = TextOps.incrementalDedup(spark, sf).collect()
    assert(out.nonEmpty)
    // shape: one best match per batch doc, batch/corpus sides disjoint
    assert(out.map(_.getLong(0)).distinct.length == out.length)
    out.foreach { r =>
      assert(srcOf(r.getLong(0)) == "src3" && srcOf(r.getLong(1)) != "src3")
      assert(r.getAs[Double]("jaccard") >= 0.8)
    }
    // equivalence: the full symmetric pair op, sliced to (src3, non-src3)
    // pairs and reduced to the best match per batch doc, must agree.
    val expected = TextOps.dedupNgramJaccard(spark, sf, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard")))
      .flatMap { case (a, b, j) =>
        if (srcOf(a) == "src3" && srcOf(b) != "src3") Some((a, b, j))
        else if (srcOf(b) == "src3" && srcOf(a) != "src3") Some((b, a, j))
        else None
      }
      .groupBy(_._1).map { case (_, ms) => ms.minBy(m => (-m._3, m._2)) }.toSet
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard"))).toSet
      == expected)
  }

  test("bigram LM scores: bounded k, negative smoothed log-probs, sorted ascending") {
    val rows = TextOps.ngramLmScore(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      // P < 1 always under add-one smoothing (c12+1 <= c1 < c1+V), so
      // every mean log-prob is strictly negative; a doc needs >= 1 bigram
      // to be scored at all.
      assert(r.getAs[Double]("avg_logprob") < 0.0)
      assert(r.getAs[Long]("n_bigrams") >= 1L)
    }
    val lps = rows.map(_.getAs[Double]("avg_logprob"))
    assert(lps.sameElements(lps.sorted), "not sorted by score ascending")
  }

  test("int8 quantized cosine tracks the exact cosine within the absmax bound") {
    val rows = SimilarityOps.quantizedTopK(spark, sf).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val (q, e) = (r.getAs[Double]("q_cosine"), r.getAs[Double]("cosine"))
      // 64-dim absmax int8: per-coordinate relative error <= 1/254, so the
      // cosine of two quantized unit-directions stays within a few 1e-3 of
      // exact; 0.02 is a conservative ceiling that still catches a broken
      // scale factor (which shifts scores by O(0.1)).
      assert(math.abs(q - e) < 0.02, s"vec ${r.getLong(0)}: |$q - $e| too large")
    }
    // descending by quantized score
    val qs = rows.map(_.getAs[Double]("q_cosine"))
    assert(qs.sameElements(qs.sorted.reverse))
  }

  test("peak concurrency: bounded by active users, exact on a planted day") {
    val rows = RelOps.maxConcurrency(spark, sf).collect()
    assert(rows.nonEmpty)
    // peak can never exceed the number of distinct users active that day
    // (one session per user at any instant) and is at least 1.
    val activeByDay = graft.core.Tables.events(spark, sf)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("user_id"))
      .distinct().groupBy("day").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val peak = r.getAs[Long]("peak_concurrency")
      assert(peak >= 1L)
      // a session can span midnight, so allow carry-in from the previous
      // day's users as the loose upper bound
      val day = r.getString(0)
      val bound = activeByDay.getOrElse(day, 0L) +
        activeByDay.getOrElse(java.time.LocalDate.parse(day).minusDays(1).toString, 0L)
      assert(peak <= bound, s"$day: peak $peak > active-user bound $bound")
    }
  }

  test("streaks match a plain Scala run-length reference per user") {
    val days = graft.core.Tables.events(spark, sf)
      .filter(col("user_id") < 200)
      .select(col("user_id"), to_date(col("ts"))).distinct().collect()
      .map(r => r.getLong(0) -> r.getDate(1).toLocalDate)
    val ref = days.groupBy(_._1).map { case (u, rows) =>
      u -> rows.map(_._2).sortBy(_.toEpochDay)
    }
    val got = RelOps.streaks(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    ref.foreach { case (u, ds) =>
      var longest = 1L; var cur = 1L; var runsN = 1L
      ds.sliding(2).filter(_.length == 2).foreach { w =>
        if (w(1).toEpochDay == w(0).toEpochDay + 1) {
          cur += 1; longest = math.max(longest, cur)
        } else { cur = 1; runsN += 1 }
      }
      longest = math.max(longest, cur)
      assert(got(u) == ((longest, runsN)), s"user $u")
    }
  }

  test("forward-fill: observed hours carry their own value, gaps the last one") {
    val rows = RelOps.forwardFill(spark, sf).collect()
    val byUser = rows.groupBy(_.getLong(0))
    byUser.values.foreach { rs =>
      var lastSeen = -1L
      rs.sortBy(_.getString(1)).foreach { r =>
        if (r.getBoolean(2)) lastSeen = r.getLong(3)
        assert(r.getLong(3) == lastSeen, s"fill broke at ${r.getString(1)}")
      }
    }
    assert(rows.count(_.getBoolean(2)) > 0 && rows.count(!_.getBoolean(2)) > 0)
  }

  test("histograms are complete: bucket counts sum to the row/pair total") {
    val ev = graft.core.Tables.events(spark, sf)
    val hist = RelOps.valueHistogram(spark, sf).collect()
    assert(hist.map(_.getAs[Long]("n")).sum == ev.count())
    val nVec = graft.core.Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 300).count()
    val pairs = SimilarityOps.cosineHistogram(spark, sf).collect()
    assert(pairs.map(_.getAs[Long]("n")).sum == nVec * (nVec - 1) / 2)
    // envelope sanity: bucket lo/hi nest inside [-1, 1] and are ordered
    pairs.foreach { r =>
      assert(r.getAs[Double]("lo") <= r.getAs[Double]("hi"))
      assert(r.getAs[Double]("lo") >= -1.0 && r.getAs[Double]("hi") <= 1.0)
    }
  }

  test("markov transitions: counts complete, ppm rows sum to ~1e6 per source") {
    val ev = graft.core.Tables.events(spark, sf)
    val m = RelOps.markovTransitions(spark, sf).collect()
    // every event except each user's last contributes exactly one transition
    val expected = ev.count() - ev.select("user_id").distinct().count()
    assert(m.map(_.getAs[Long]("n")).sum == expected)
    m.groupBy(_.getString(0)).foreach { case (from, rows) =>
      val s = rows.map(_.getAs[Long]("prob_ppm")).sum
      // floor division loses < 1 ppm per destination row
      assert(s <= 1000000L && s > 1000000L - rows.length, s"$from ppm sum $s")
    }
  }

  test("retention cohorts: week 0 is always the full cohort, counts bounded by it") {
    val r = RelOps.retentionCohorts(spark, sf).collect()
    val w0 = r.filter(_.getAs[Long]("week_offset") == 0L)
      .map(x => x.getString(0) -> x.getAs[Long]("n_users")).toMap
    assert(w0.nonEmpty)
    r.foreach { x =>
      val c = x.getString(0)
      if (x.getAs[Long]("week_offset") == 0L)
        assert(x.getAs[Long]("retention_ppm") == 1000000L, s"cohort $c week 0")
      assert(x.getAs[Long]("n_users") <= w0(c), s"cohort $c exceeds its size")
    }
  }

  test("as-of tolerance: matches are the rq8 subset within the horizon") {
    val base = RelOps.asofJoin(spark, sf).collect()
      .map(r => r.getLong(0) -> Option(r.getAs[Any]("purchase_id")).map(_.asInstanceOf[Long]))
      .toMap
    val tol = RelOps.asofJoinTolerance(spark, sf).collect()
    assert(tol.exists(_.getAs[Any]("purchase_id") != null))
    assert(tol.exists(_.getAs[Any]("purchase_id") == null))
    tol.foreach { r =>
      val click = r.getLong(0)
      Option(r.getAs[Any]("purchase_id")) match {
        case Some(p) =>
          assert(base(click).contains(p.asInstanceOf[Long]), s"click $click: not the as-of match")
          val lag = r.getAs[Long]("lag_sec")
          assert(lag >= 0L && lag <= 7200L, s"click $click lag $lag outside horizon")
        case None => // either no purchase before it, or it aged out — both legal
      }
    }
  }

  test("k-anonymity: no published group below k, corpus count preserved") {
    val k = 5L
    val docs = graft.core.Tables.documents(spark, sf).count()
    val rows = TextOps.kAnonymize(spark, sf, k).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs, "suppression must not drop rows")
    rows.foreach { r =>
      val suppressed = r.getString(0) == "*"
      if (!suppressed)
        assert(r.getAs[Long]("n_docs") >= k,
          s"group ${r.getString(0)}/${r.getString(1)}/${r.getAs[Long]("chars_band")} below k")
      else
        assert(r.getString(1) == "*" && r.getAs[Long]("chars_band") == -1L,
          "suppressed bucket must generalize every quasi-identifier")
    }
  }

  test("winsorize: clip band ordered, clipped tails bounded by the percentile mass") {
    val rows = RelOps.winsorize(spark, sf).collect()
    rows.foreach { r =>
      val n = r.getAs[Long]("n")
      val lo = r.getAs[Long]("lo_micro"); val hi = r.getAs[Long]("hi_micro")
      assert(lo <= hi)
      // strictly-below-P05 (strictly-above-P95) mass cannot exceed the tail
      assert(r.getAs[Long]("n_clip_lo") <= n * 5 / 100 + 1, s"$r")
      assert(r.getAs[Long]("n_clip_hi") <= n * 5 / 100 + 1, s"$r")
      val s = r.getAs[Long]("sum_wins_micro")
      assert(s >= n * lo && s <= n * hi, "clipped sum must stay inside the band")
    }
  }

  test("vq assignment: every probe lands in exactly one confusion cell") {
    val conf = SimilarityOps.vqAssign(spark, sf).collect()
    val probes = graft.core.Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 500).count()
    assert(conf.map(_.getAs[Long]("n")).sum == probes, "confusion matrix must partition the probes")
    // centroids are per-label means, so the matrix is square-bounded
    conf.foreach { r =>
      assert(r.getLong(0) >= 0 && r.getLong(0) < 10 && r.getLong(1) >= 0 && r.getLong(1) < 10)
    }
  }

  test("column profile: counts consistent across columns of one table") {
    val p = RelOps.columnProfile(spark, sf).collect()
    val nRows = p.map(_.getAs[Long]("n_rows")).distinct
    assert(nRows.length == 1, "every column profiles the same row count")
    p.foreach { r =>
      assert(r.getAs[Long]("n_distinct") <= r.getAs[Long]("n_rows") - r.getAs[Long]("n_nulls"))
      assert(r.getAs[String]("min_val") <= r.getAs[String]("max_val"))
    }
    // the key column is unique: distinct == rows
    val key = p.find(_.getString(0) == "o_orderkey").get
    assert(key.getAs[Long]("n_distinct") == key.getAs[Long]("n_rows"))
  }

  test("radius search returns exactly the top-k prefix above its threshold") {
    // Radius and top-k must agree on their overlap: every top-10 hit with
    // cosine ≥ 0.25 appears in the radius result with the same score.
    val radius = SimilarityOps.radiusSearch(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(radius.values.forall(_ >= 0.25))
    SimilarityOps.cosineTopK(spark, sf).collect()
      .filter(_.getAs[Double]("cosine") >= 0.25)
      .foreach(r => assert(radius(r.getLong(0)) == r.getAs[Double]("cosine")))
  }

  test("skyline sweep equals brute-force dominance and is an antichain") {
    val sweep = RelOps.skyline(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val pts = graft.core.Tables.part(spark, sf)
      .select(col("p_partkey"), col("p_size"),
        (col("p_retailprice").cast("decimal(18,2)") * 100).cast("long"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    def dominates(a: (Long, Int, Long), b: (Long, Int, Long)): Boolean =
      a._2 >= b._2 && a._3 <= b._3 && (a._2 > b._2 || a._3 < b._3)
    val brute = pts.filter(p => !pts.exists(q => dominates(q, p))).toSet
    assert(sweep == brute, "per-size sweep must equal the dominance definition")
    sweep.foreach(p => sweep.foreach(q => assert(!dominates(p, q), "frontier is an antichain")))
  }

  test("rolling DAU/WAU: window union equals per-day recount") {
    val rows = RelOps.rollingActiveUsers(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byDay = graft.core.Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).cast("string").as("day"))
      .distinct().collect()
      .map(r => r.getString(1) -> r.getLong(0))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val days = byDay.keys.toSeq.sorted
    rows.foreach { case (d, dau, wau) =>
      assert(dau == byDay(d).size, s"dau mismatch on $d")
      val expectWau = days.filter(x => x <= d && x >= java.time.LocalDate.parse(d).minusDays(6).toString)
        .flatMap(byDay).toSet.size
      assert(wau == expectWau, s"wau mismatch on $d")
      assert(wau >= dau)
    }
    assert(rows.map(_._1).toSet == days.toSet, "one output row per active day")
  }

  test("lift gains: deciles partition customers, cumulative share reaches 1e6") {
    val g = RelOps.liftGains(spark, sf).collect()
    val nCust = graft.core.Tables.orders(spark, sf).select("o_custkey").distinct().count()
    assert(g.map(_.getAs[Long]("n_customers")).sum == nCust)
    assert(g.last.getAs[Long]("cum_share_ppm") == 1000000L,
      "full cumulative share is exactly 1e6 ppm (cum_rev == total)")
    val cums = g.map(_.getAs[Long]("cum_rev_x100"))
    assert(cums.zip(cums.tail).forall { case (a, b) => a <= b }, "cumulative revenue is monotone")
    // ntile ranks by spend desc ⇒ per-decile average spend is non-increasing
    val avg = g.map(r => r.getAs[Long]("rev_x100").toDouble / r.getAs[Long]("n_customers"))
    assert(avg.zip(avg.tail).forall { case (a, b) => a >= b - 1e-6 })
  }

  test("zorder: Morton zone maps prune the 2D predicate best; answer layout-invariant") {
    val rows = RelOps.zorderLayout(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("time", "xsort", "zorder"))
    val matched = rows.values.map(_.getAs[Long]("rows_matched")).toSet
    assert(matched.size == 1, "the true answer must not depend on layout")
    def reads(l: String) = rows(l).getAs[Long]("buckets_read")
    assert(reads("zorder") <= reads("time") && reads("zorder") <= reads("xsort"),
      s"Morton must read fewest buckets: z=${reads("zorder")} t=${reads("time")} x=${reads("xsort")}")
    assert(reads("zorder") < math.max(reads("time"), reads("xsort")),
      "and strictly beat at least one single-dim layout")
    rows.values.foreach { r =>
      assert(r.getAs[Long]("rows_read") >= r.getAs[Long]("rows_matched"),
        "zone-map read set must cover the answer")
    }
  }

  test("BPE pair counts match a plain Scala reference") {
    val got = TextOps.bpePairs(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val wf = graft.core.Tables.documents(spark, sf)
      .filter(col("lang") === "en").select("text").collect()
      .flatMap(_.getString(0).toLowerCase.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
    wf.foreach { case (w, f) =>
      w.sliding(2).filter(_.length == 2).foreach { p =>
        val k = (p.substring(0, 1), p.substring(1, 2))
        pairs(k) = pairs.getOrElse(k, 0L) + f
      }
    }
    val expect = pairs.toSeq.map { case ((a, b), n) => (a, b, n) }
      .sortBy { case (a, b, n) => (-n, a, b) }.take(20)
    assert(got.toSeq == expect, "engine top-20 must equal the reference fold")
  }

  test("native top-k-per-group equals the window formulation for several k") {
    import org.apache.spark.sql.expressions.Window
    val src = graft.core.Tables.orders(spark, sf)
      .select(col("o_orderpriority"), col("o_orderkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("p"))
    for (k <- Seq(1, 3, 7)) {
      val native = graft.plans.TopKPerGroup.topK(spark, src, Seq("o_orderpriority"),
        Seq(("p", false), ("o_orderkey", true)), k)
        .collect().map(_.toString).sorted
      val w = Window.partitionBy("o_orderpriority").orderBy(desc("p"), asc("o_orderkey"))
      val window = src.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k).drop("rn")
        .collect().map(_.toString).sorted
      assert(native.sameElements(window), s"k=$k diverged")
    }
    // ascending order + different key: exercise the other SortOrder path
    val nat = graft.plans.TopKPerGroup.topK(spark, src, Seq("o_orderpriority"),
      Seq(("o_orderkey", true)), 2).collect().map(_.toString).sorted
    val w2 = Window.partitionBy("o_orderpriority").orderBy(asc("o_orderkey"))
    val win = src.withColumn("rn", row_number().over(w2))
      .filter(col("rn") <= 2).drop("rn").collect().map(_.toString).sorted
    assert(nat.sameElements(win))
  }

  test("recursive CTE hierarchy equals the digit-depth closed form") {
    // parent = custkey div 10 over a contiguous keyspace ⇒ root is the
    // leading digit and depth is digits-1; the iterative union-loop must
    // reproduce that closed form exactly.
    val rows = graft.ops.SqlSurface.recursiveHierarchy(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val keys = graft.core.Tables.customer(spark, sf)
      .select("c_custkey").collect().map(_.getLong(0))
    val expect = keys.map { k =>
      val s = k.toString; (s.substring(0, 1).toLong, (s.length - 1).toLong)
    }.groupBy(identity).map { case ((r, d), xs) => (r, d, xs.size.toLong) }.toSet
    assert(rows == expect)
  }

  test("result cache: fingerprint invariant to aliases/expr-ids, sensitive to semantics") {
    import org.apache.spark.sql.functions._
    def fp(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.optimizedPlan.canonicalized.toString
    val base = graft.core.Tables.orders(spark, sf)
    val q1 = base.groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    // Same semantics, different aliases and a no-op select in between.
    val q2 = base.select(col("o_orderpriority").as("o_orderpriority"),
        col("o_orderkey"))
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("cnt"))
    assert(fp(q1) == fp(q2), "alias/projection noise changed the cache key")
    val q3 = base.filter(col("o_orderpriority") =!= "1-URGENT")
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    assert(fp(q1) != fp(q3), "semantically different query collided")
  }

  test("DSIR: target-language docs score above the non-target mean") {
    val s = TextOps.dsirScore(spark, sf).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("dsir_ppm")))
    val (en, other) = s.partition(_._1 == "en")
    assert(en.nonEmpty && other.nonEmpty)
    def mean(xs: Array[(String, Long)]): Double = xs.map(_._2).sum.toDouble / xs.length
    assert(mean(en) > mean(other),
      s"importance ratio must separate the target slice: en=${mean(en)} other=${mean(other)}")
  }

  test("url dedup: canonicalization collapses three DISTINCT raw forms per full group") {
    // Each full page group must collapse exactly its 3 variants — and the
    // collapse must be real normalization work (3 distinct raw strings),
    // not accidental string equality. The group count pins coverage.
    val rows = TextOps.urlDedup(spark, sf).collect()
    val nDocs = graft.core.Tables.documents(spark, sf).count()
    assert(rows.length == ((nDocs + 2) / 3).toInt, "one canon group per logical page")
    val full = rows.filter(_.getAs[Long]("n_variants") == 3L)
    assert(full.length >= rows.length - 1, "all full groups must collapse 3 variants")
    assert(full.forall(_.getAs[Long]("n_raw_forms") == 3L),
      "variants must be distinct raw strings (the canonicalizer must earn the collapse)")
    assert(rows.forall(r => r.getAs[Long]("keep_id") % 3 == 0 ||
      r.getAs[Long]("n_variants") < 3), "survivor must be the variant-0 doc")
  }

  test("grpo advantage: zero-sum certificate holds and advantages are scale-free exact") {
    // Σ(n·adv) over each group is identically 0 by construction — any
    // nonzero cell means the join/aggregate lost exactness. n_pos < n
    // unless all rewards tie (then every advantage is 0).
    val rows = TextOps.grpoAdvantage(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("zero_sum") == 0L), "zero-sum certificate violated")
    assert(rows.forall(r => r.getAs[Long]("n_pos") < r.getAs[Long]("n_samples")),
      "argmax group membership: strictly fewer positive advantages than samples")
    assert(rows.forall(r => r.getAs[Long]("max_adv_scaled") >= 0L),
      "max advantage is never below the group mean")
  }

  test("hard negatives: labels genuinely differ, ranking is tight, margin flag consistent") {
    val rows = SimilarityOps.hardNegatives(spark, sf).collect()
    val anchorLabels = graft.core.Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 8).select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows.groupBy(_.getAs[Long]("qid")).forall(_._2.length == 3),
      "every anchor must yield exactly k negatives")
    rows.foreach { r =>
      assert(r.getAs[Int]("neg_label") != anchorLabels(r.getAs[Long]("qid")),
        "a negative must come from a different label")
      assert(r.getAs[Boolean]("margin_violation") ==
        (r.getAs[Long]("neg_micro") > r.getAs[Long]("pos_micro") - 100000L))
    }
    rows.groupBy(_.getAs[Long]("qid")).values.foreach { g =>
      val ms = g.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Long]("neg_micro"))
      assert(ms.zip(ms.tail).forall { case (a, b) => a >= b },
        "negatives must be ranked hardest-first")
    }
  }

  test("clip filter: pair coverage is exhaustive and retention stats are consistent") {
    val rows = graft.ops.MultimodalOps.clipFilter(spark, sf).collect()
    val nEmb = graft.core.Tables.embeddings(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_pairs")).sum == nEmb / 2,
      "every even/odd tower pair must be scored exactly once")
    rows.foreach { r =>
      val (n, k) = (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_kept"))
      assert(k <= n && r.getAs[Long]("kept_ppm") == k * 1000000L / n)
      assert(r.getAs[Long]("max_clip_micro") <= 1000000L, "cosine cannot exceed 1")
      if (k > 0) assert(r.getAs[Long]("kept_clip_micro_sum") >= 0L)
    }
  }
}
