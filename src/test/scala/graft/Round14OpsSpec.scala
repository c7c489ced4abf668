package graft

import org.apache.spark.sql.functions._

/** Round-14 hardening: the round-13 ADVICE items that survive only as
  * runtime behavior — the empty-stream refresh guard and the
  * schema-preserving assignment contract.
  */
class Round14OpsSpec extends SparkSpec {

  test("refreshedCentroids on a never-committed state dir returns the standing centroids") {
    val standing = Seq(Array.fill(64)(1000000L), Array.fill(64)(2000000L))
    val empty = java.nio.file.Files.createTempDirectory("graft-mom-empty").toString
    // both a missing dir and an existing-but-batchless dir are the
    // zero-batch case: the refresh is the identity, not an
    // AnalysisException from an unmatched glob
    val out1 = streaming.EmbedIngest.refreshedCentroids(spark, s"$empty/nonexistent", standing)
    assert(out1.map(_.toSeq) == standing.map(_.toSeq))
    val out2 = streaming.EmbedIngest.refreshedCentroids(spark, empty, standing)
    assert(out2.map(_.toSeq) == standing.map(_.toSeq))
  }

  test("pca_project2: deflated second direction is ≈orthogonal and explains ≤ pc1's share") {
    val ve = operators.KMeansOps.queries.find(_.name == "pca_var_explained").get
    val row = ve.run(spark, sfDir).collect()(0)
    val (v1, v2, v12) = (row.getLong(1), row.getLong(2), row.getLong(3))
    // near-flat spectra (this synthetic fixture: every share ≈ 2.7%) leave
    // v1 not fully converged after the fixed 12 rounds, so the deflated
    // direction's Rayleigh quotient may marginally exceed it — allow the
    // convergence-tolerance band, forbid a real ordering violation
    assert(v2 <= v1 * 11 / 10, s"λ₂ share ($v2) must not materially exceed λ₁'s ($v1)")
    assert(v2 >= 0 && v12 <= 1000000, s"shares must be sane fractions: v2=$v2 v12=$v12")

    // near-orthogonality of the exact-integer deflation: |cos(v1, v2)|
    // bounded by the truncation scale (the directions are ×10⁶ integer
    // vectors; exact orthogonality is not the contract, determinism is)
    val a = operators.KMeansOps.principalE6(spark, sfDir).map(BigDecimal(_))
    val b = operators.KMeansOps.principal2E6(spark, sfDir).map(BigDecimal(_))
    val dot = a.zip(b).map { case (x, y) => x * y }.sum.abs
    val na = a.map(x => x * x).sum
    val nb = b.map(x => x * x).sum
    val cos2 = (dot * dot / (na * nb)).toDouble
    assert(cos2 < 0.05, s"deflated direction should be near-orthogonal, cos²=$cos2")

    // the declared projection agrees with a driver recomputation on a row
    val p2 = operators.KMeansOps.queries.find(_.name == "pca_project2").get
    val first = p2.run(spark, sfDir).limit(1).collect()(0)
    assert(first.schema.fieldNames.toSeq == Seq("vec_id", "pc1", "pc2"))
  }

  test("silhouette is readable under either seed chain (lowid and ++ centroids)") {
    val q = operators.KMeansOps.quantized(spark, sfDir)
    def rows(cents: Seq[Array[Long]]) =
      operators.KMeansOps.silhouetteOf(q, cents).collect()
    val lowid = rows(operators.KMeansOps.lloydCentroids(spark, sfDir))
    val pp = rows(operators.KMeansOps.ppCentroids(spark, sfDir))
    assert(lowid.nonEmpty && pp.nonEmpty)
    // same schema, full corpus covered under both centroid sets
    assert(lowid.map(_.getLong(1)).sum == pp.map(_.getLong(1)).sum,
      "both chains must assign every vector")
    Seq(lowid, pp).foreach(_.foreach { r =>
      assert(r.getLong(4) >= -1000 && r.getLong(4) <= 1000, s"sil out of range: $r")
    })
  }

  test("kmeans_elbow SSE is non-increasing in k and k=8 matches kmeans_cost") {
    val rows = operators.KMeansOps.queries.find(_.name == "kmeans_elbow").get
      .run(spark, sfDir).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(2L, 4L, 8L))
    val sses = rows.map(r => BigInt(r.getLong(2))).toSeq
    assert(sses == sses.sorted.reverse, s"SSE must not increase with k: $sses")
    val costTotal = operators.KMeansOps.queries.find(_.name == "kmeans_cost").get
      .run(spark, sfDir).collect().map(r => BigInt(r.getLong(2))).sum
    assert(sses.last == costTotal, "the k=8 elbow row must be kmeans_cost's total SSE")
  }

  test("gram kernels agree with the HOF spelling and honor the null contract") {
    graft.functions.GraftFunctions.register(spark)
    val df = spark
      .createDataFrame(Seq(
        (1L, "a b c d"), (2L, "x"), (3L, ""), (4L, "p q"),
      ))
      .toDF("id", "text")
      .withColumn("ws", split(col("text"), " "))
      .select(
        col("id"),
        expr("graft_gram_pairs(ws)").as("pairs"),
        expr("graft_gram2_join(ws)").as("g2"),
        expr("graft_gram3_join(ws)").as("g3"),
        expr("""IF(size(ws) >= 2,
                  zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1),
                           (a, b) -> concat(a, ' ', b)), array())""").as("hof2"),
        expr("""IF(size(ws) >= 3,
                  zip_with(slice(ws, 1, size(ws) - 2),
                           zip_with(slice(ws, 2, size(ws) - 2), slice(ws, 3, size(ws) - 2),
                                    (b, c) -> concat(b, ' ', c)),
                           (a, bc) -> concat(a, ' ', bc)), array())""").as("hof3"),
      )
      .orderBy("id")
      .collect()
    df.foreach { r =>
      assert(r.getSeq[String](2) == r.getSeq[String](4), s"g2 != hof2 on row $r")
      assert(r.getSeq[String](3) == r.getSeq[String](5), s"g3 != hof3 on row $r")
      val pairs = r.getSeq[org.apache.spark.sql.Row](1)
      assert(pairs.map(p => s"${p.getString(0)} ${p.getString(1)}") == r.getSeq[String](2))
    }
    // null contract: null array → null; null element → null (GramHashes parity)
    val nulls = spark
      .sql("""SELECT graft_gram_pairs(CAST(NULL AS ARRAY<STRING>)) AS a,
                     graft_gram2_join(array('x', CAST(NULL AS STRING))) AS b""")
      .collect()(0)
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }

  test("chunk_census tiling invariant: overlap inflation is exactly (n_chunks - n_docs)*(W - S)") {
    // Per doc, chunk i covers [i*S, min(i*S+W, tok)) and only the LAST
    // chunk is partial, so Σ ctok = tok + (n_chunks-1)*(W-S) exactly —
    // summed per language: chunk_tok = doc_tok + (n_chunks - n_docs)*16.
    // A wrong chunk count, a dropped trailing chunk, or an off-by-one
    // stride all break this identity.
    val rows = SparkEntry.queries("chunk_census")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nDocs, nChunks) = (r.getLong(1), r.getLong(2))
      val (docTok, chunkTok, short) = (r.getLong(3), r.getLong(4), r.getLong(5))
      assert(chunkTok == docTok + (nChunks - nDocs) * 16L,
        s"tiling identity broken for lang=${r.getString(0)}: $r")
      assert(nChunks >= nDocs && short <= nDocs,
        s"at most one short trailing chunk per doc: $r")
    }
  }

  test("knn_label_agreement accounts for exactly the kNN sources; shares bounded") {
    val edges = SparkEntry.queries("knn_graph")(spark, sfDir).collect()
    val rows = SparkEntry.queries("knn_label_agreement")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // every judged node is a distinct kNN source and vice versa
    assert(rows.map(_.getLong(1)).sum == edges.map(_.getLong(0)).distinct.length,
      "per-label node counts must partition the kNN source set")
    rows.foreach { r =>
      val (nodes, mean, susp) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(mean >= 0 && mean <= 1000, s"mean agreement out of [0,1000]: $r")
      assert(susp >= 0 && susp <= nodes, s"suspects exceed nodes: $r")
    }
  }

  test("hubness_stats is a partition of the corpus and its mass is the edge count") {
    val rows = SparkEntry.queries("hubness_stats")(spark, sfDir).collect()
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    val edges = SparkEntry.queries("knn_graph")(spark, sfDir).count()
    assert(rows.map(_.getLong(1)).sum == corpus, "histogram buckets must partition the corpus")
    assert(rows.map(r => r.getLong(0) * r.getLong(1)).sum == edges,
      "Σ indeg·n_nodes must equal the directed edge count")
  }

  test("heaps_law: monotone type growth, exact endpoints at 100%") {
    val rows = SparkEntry.queries("heaps_law")(spark, sfDir).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(10L, 25L, 50L, 75L, 100L))
    val types = rows.map(_.getLong(2)).toSeq
    assert(types == types.sorted, s"type counts must be non-decreasing: $types")
    // the 100% row is exact: all tokens, all types (split-' ' tokenization)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val totTok = docs.selectExpr("CAST(size(split(text, ' ')) AS LONG) AS t")
      .agg(org.apache.spark.sql.functions.sum("t")).collect()(0).getLong(0)
    val totTypes = docs.selectExpr("explode(split(text, ' ')) AS w")
      .filter("w <> ''") // '' is a position, not a type (zipf_slope's contract)
      .distinct().count()
    assert(rows.last.getLong(1) == totTok, "100% threshold must be the corpus token count")
    assert(rows.last.getLong(2) == totTypes, "100% types must be the full vocabulary")
  }

  test("zipf_slope: negative slope over the capped top-k frame") {
    val r = SparkEntry.queries("zipf_slope")(spark, sfDir).collect()(0)
    val (n, slope) = (r.getLong(0), r.getLong(1))
    val vocab = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("explode(split(text, ' ')) AS w").filter("w <> ''").distinct().count()
    assert(n == math.min(1000L, vocab), s"n_types must be min(top-k, vocab): $n vs $vocab")
    // frequencies are non-increasing in rank by construction, so the OLS
    // slope over (ln rank, ln freq) cannot be positive
    assert(slope <= 0, s"Zipf slope must be non-positive: $slope")
  }

  test("ivf_balance: cells partition the corpus and load factors are consistent") {
    val rows = SparkEntry.queries("ivf_balance")(spark, sfDir).collect()
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    assert(rows.map(_.getLong(1)).sum == corpus, "cell counts must partition the corpus")
    rows.foreach { r =>
      val (n, load) = (r.getLong(1), r.getLong(2))
      assert(load == n * rows.length * 1000 / corpus, s"load factor inconsistent: $r")
    }
  }

  test("ivf_nprobe_sweep: recall monotone in nprobe; the p=2 row ties to ivf_recall") {
    val rows = SparkEntry.queries("ivf_nprobe_sweep")(spark, sfDir).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L))
    val hits = rows.map(_.getLong(2)).toSeq
    assert(hits == hits.sorted, s"hits must be non-decreasing in nprobe: $hits")
    assert(rows.map(_.getLong(1)).distinct.length == 1,
      "k_total is the same exact-arm mass in every row")
    // the declared operating point (nprobe=2) must reproduce ivf_recall's mass
    val recallHits = SparkEntry.queries("ivf_recall")(spark, sfDir)
      .collect().map(_.getLong(2)).sum
    assert(hits(1) == recallHits,
      s"sweep p=2 (${hits(1)}) must equal ivf_recall's total hits ($recallHits)")
  }

  test("dsir_ess: fractions bounded by Cauchy-Schwarz, docs partition the featured corpus") {
    val rows = SparkEntry.queries("dsir_ess")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val featured = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("size(filter(split(text, ' '), w -> w <> '')) AS nf")
      .filter("nf > 0").count()
    assert(rows.map(_.getLong(1)).sum == featured,
      "per-source doc counts must partition the featured corpus")
    rows.foreach { r =>
      val ess = r.getLong(2)
      assert(ess >= 1 && ess <= 1000, s"ESS fraction out of (0,1000]: $r")
    }
  }

  test("pca_outliers: top-20 non-increasing and residual recomputes from driver values") {
    val rows = SparkEntry.queries("pca_outliers")(spark, sfDir).collect()
    assert(rows.length == 20)
    val res = rows.map(_.getDouble(2)).toSeq
    assert(res == res.sorted.reverse, s"residuals must be non-increasing: $res")
    assert(res.last >= 0.0, "top-20 residual energies must be non-negative on this fixture")
  }

  test("minhash_band_stats: bucket mass conserves the signature rows per band") {
    val rows = SparkEntry.queries("minhash_band_stats")(spark, sfDir).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L), "exactly the 4 declared bands")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    rows.foreach { r =>
      val (nBuckets, maxBucket, candPairs, meanE3) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      // every doc lands in exactly one bucket per band
      assert(nBuckets <= docs && maxBucket <= docs, s"bucket stats exceed corpus: $r")
      assert(candPairs >= maxBucket * (maxBucket - 1) / 2,
        s"pair mass must dominate the largest bucket's pairs: $r")
      assert(meanE3 >= 1000, "mean bucket size is at least one doc")
    }
  }

  test("last_touch_attribution: touches partition the touched users; rates are exact") {
    val rows = SparkEntry.queries("last_touch_attribution")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(!rows.exists(_.getString(0) == "purchase"),
      "the purchase event itself is never a last TOUCH")
    val touched = spark.read.parquet(s"$sfDir/events.parquet")
      .filter("event_type <> 'purchase'").select("user_id").distinct().count()
    assert(rows.map(_.getLong(1)).sum == touched,
      "per-touch user counts must partition the users with >= 1 non-purchase event")
    rows.foreach { r =>
      assert(r.getLong(3) == r.getLong(2) * 1000000 / r.getLong(1),
        s"conv_rate_e6 must recompute from its own row: $r")
    }
  }

  test("dedup_loss_by_source conserves the corpus and ties to the keeper table") {
    val rows = SparkEntry.queries("dedup_loss_by_source")(spark, sfDir).collect()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(rows.map(_.getLong(1)).sum == docs, "per-source docs must partition the corpus")
    val keepers = SparkEntry.queries("cluster_keeper")(spark, sfDir).count()
    assert(rows.map(_.getLong(2)).sum == keepers,
      "total kept must equal the number of keeper clusters")
    rows.foreach { r =>
      assert(r.getLong(3) == r.getLong(1) - r.getLong(2), s"dropped must reconcile: $r")
      assert(r.getLong(4) == r.getLong(3) * 1000 / r.getLong(1), s"loss_e3 must recompute: $r")
    }
  }

  test("split_leak_audit: ZERO cross-split pairs at the split's own threshold") {
    val rows = SparkEntry.queries("split_leak_audit")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.filter(_.getString(0) == "cross").foreach { r =>
      assert(r.getLong(3) == 0L,
        s"the cluster-level split must make j>=0.3 cross pairs impossible: $r")
    }
    // within-class pairs at the threshold DO exist on this fixture —
    // the audit distinguishes, it doesn't vacuously pass
    assert(rows.filter(_.getString(0).startsWith("within_")).map(_.getLong(3)).sum > 0,
      "the fixture must have near-dup pairs at the split threshold somewhere")
  }

  test("pack_efficiency: histogram mass equals the packer's pack count") {
    val rows = SparkEntry.queries("pack_efficiency")(spark, sfDir).collect()
    val packs = SparkEntry.queries("sequence_pack")(spark, sfDir).count()
    assert(rows.map(_.getLong(1)).sum == packs, "decile masses must partition the packs")
    rows.foreach { r =>
      val (dec, lo, hi) = (r.getLong(0), r.getLong(2), r.getLong(3))
      assert(lo <= hi, s"min/max fill inverted: $r")
      if (dec < 12) assert(lo / 10 == dec && hi / 10 == dec, s"fill outside its decile: $r")
      else assert(lo >= 120, s"capped bucket must hold >=120% fills: $r")
    }
  }

  test("dup_quality_profile: statuses partition the corpus; keepers tie to multi clusters") {
    val rows = SparkEntry.queries("dup_quality_profile")(spark, sfDir).collect()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(rows.map(_.getLong(1)).sum == docs, "statuses must partition the corpus")
    assert(rows.map(_.getString(0)).toSet.subsetOf(Set("unique", "dup_keeper", "dup_loser")))
    val multi = SparkEntry.queries("cluster_keeper")(spark, sfDir)
      .filter("n_members > 1").count()
    val keepers = rows.filter(_.getString(0) == "dup_keeper").map(_.getLong(1)).sum
    assert(keepers == multi, s"dup_keeper count ($keepers) must equal multi-clusters ($multi)")
  }

  test("knn_cluster_purity: buckets partition the corpus, singletons are pure") {
    val rows = SparkEntry.queries("knn_cluster_purity")(spark, sfDir).collect()
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    assert(rows.map(_.getLong(2)).sum == corpus, "size buckets must partition the vectors")
    rows.foreach { r =>
      assert(r.getLong(3) >= 1 && r.getLong(3) <= 1000, s"purity out of range: $r")
      if (r.getString(0) == "1")
        assert(r.getLong(3) == 1000, s"singleton clusters are pure by definition: $r")
    }
  }

  test("conversion_window_attribution: converters conserved, latencies inside the window") {
    val rows = SparkEntry.queries("conversion_window_attribution")(spark, sfDir).collect()
    val converters = spark.read.parquet(s"$sfDir/events.parquet")
      .filter("event_type = 'purchase'").select("user_id").distinct().count()
    assert(rows.map(_.getLong(1)).sum == converters,
      "every converting user lands in exactly one touch bucket")
    rows.foreach { r =>
      if (r.getString(0) == "direct") assert(r.isNullAt(2), s"direct has no latency: $r")
      else {
        assert(r.getString(0) != "purchase", "a purchase is never the credited touch")
        assert(!r.isNullAt(2) && r.getLong(2) >= 0 && r.getLong(2) < 7L * 86400 * 1000000L,
          s"latency must sit inside the 7-day window: $r")
      }
    }
  }

  test("Ivf.assign is schema-preserving: input columns ride through beside cid/csim") {
    val e = spark.read
      .parquet(s"$sfDir/embeddings.parquet")
      .withColumn("dvec", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("extra", col("vec_id") * 2)
      .select("vec_id", "dvec", "extra")
    val cents = operators.Ivf.buildCentroids(spark, e.select("vec_id", "dvec"), k = 4, iters = 1)
    val out = operators.Ivf.assign(spark, e, cents)
    assert(out.columns.toSeq == Seq("vec_id", "dvec", "extra", "cid", "csim"),
      s"assign must append (cid, csim) to the input schema, got ${out.columns.toSeq}")
    assert(out.count() == e.count())
  }
}
