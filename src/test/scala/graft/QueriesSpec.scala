package graft

/** Smoke over the full declared inventory: every SparkEntry query runs at
  * sf0.001 and the ones that should produce rows do. (Value-level
  * correctness is the driver's DuckDB oracle + tools/check_oracle.py.)
  */
class QueriesSpec extends SparkSuite {

  // Queries that legitimately may return zero rows at the smallest SF.
  private val mayBeEmpty = Set("q42_jaccard_pairs", "q43_minhash_lsh", "q44_simhash",
    "q150_perceptual_neardup") // no duplicate media below sf0.1 (8 pairs there)

  // schemas captured by the smoke loop so the DecimalType pin below
  // doesn't re-execute every eager pipeline a second time
  private val capturedSchemas =
    scala.collection.mutable.Map[String, org.apache.spark.sql.types.StructType]()

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs at sf0.001") {
      val df = fn(spark, sfDir)
      capturedSchemas.synchronized { capturedSchemas(name) = df.schema }
      val n = df.count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned no rows")
    }
  }

  test("entry() flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q71 approx_count_distinct within 10% of exact (HLL accuracy bound)") {
    val approx = SparkEntry.queries("q71_approx_distinct")(spark, sfDir).head()
    val exact = SparkEntry.queries("q09_distinct")(spark, sfDir).head()
    val pairs = Seq(
      approx.getAs[Long]("approx_parts") -> exact.getAs[Long]("n_parts"),
      approx.getAs[Long]("approx_supps") -> exact.getAs[Long]("n_supps"))
    pairs.foreach { case (a, e) =>
      assert(math.abs(a - e).toDouble / e <= 0.10, s"approx $a vs exact $e")
    }
  }

  test("q110 mixture weights: normalized, and temperature flattens the mix") {
    val rows = SparkEntry.queries("q110_mixture_weights")(spark, sfDir).collect()
    val shares = rows.map(_.getDouble(3))
    val weights = rows.map(_.getDouble(4))
    val boosts = rows.map(_.getDouble(5))
    assert(math.abs(weights.sum - 1.0) < 1e-2, s"weights sum ${weights.sum}")
    // alpha < 1 upsamples below-average sources, downsamples dominant ones:
    // boost ordering is inverse to share ordering
    val byShare = shares.zip(boosts).sortBy(_._1)
    assert(byShare.head._2 >= byShare.last._2,
      s"smallest source must be boosted at least as much as the largest: $byShare")
    assert(boosts.max >= 1.0 && boosts.min <= 1.0, s"boosts: ${boosts.toSeq}")
  }

  test("q119 token budget: allocations spend the budget, epochs are consistent") {
    val rows = SparkEntry.queries("q119_token_budget")(spark, sfDir).collect()
    val nTokens = rows.map(_.getLong(1))
    val weights = rows.map(_.getDouble(2))
    val allocs = rows.map(_.getLong(3))
    val epochs = rows.map(_.getDouble(4))
    val over = rows.map(_.getBoolean(5))
    assert(math.abs(weights.sum - 1.0) < 1e-2, s"weights sum ${weights.sum}")
    // allocations spend the whole budget up to per-source rounding
    assert(math.abs(allocs.sum - 10000000L) <= rows.length,
      s"allocs sum ${allocs.sum}")
    rows.indices.foreach { i =>
      val e = allocs(i).toDouble / nTokens(i)
      assert(math.abs(epochs(i) - e) < 1e-3, s"epochs(${i}) ${epochs(i)} vs $e")
      assert(over(i) == (e > 4.0), s"over-flag(${i}) disagrees at $e")
    }
  }

  test("q142 decay weights: positive, bounded by the event count, anchor user at full weight") {
    val rows = SparkEntry.queries("q142_time_decay")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_events")
      val w = r.getAs[Double]("decay_weight")
      assert(w > 0.0 && w <= n + 1e-9, s"user ${r.get(0)}: weight $w vs $n events")
    }
  }

  test("q145 outlier gate: shares in range, z threshold actually separates") {
    val rows = SparkEntry.queries("q145_zscore_outliers")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_events")
      val out = r.getAs[Long]("n_outliers")
      val share = r.getAs[Double]("outlier_share")
      assert(out >= 0 && out <= n && share <= 0.2,
        s"${r.getString(0)}: $out/$n outliers")
      // a 3-sigma gate on real data must see SOME mass near/behind it
      assert(r.getAs[Double]("max_abs_z") >= 1.0)
    }
  }

  test("q146 priority sample is weight-biased toward long docs and rerun-stable") {
    val q = SparkEntry.queries("q146_priority_sample")
    val a = q(spark, sfDir).collect()
    val b = q(spark, sfDir).collect()
    assert(a.toSeq == b.toSeq, "priority sample must be bit-reproducible")
    assert(a.length == 25)
    val sampleMean = a.map(_.getAs[Long]("n_chars")).sum.toDouble / a.length
    val corpusMean = Tables.documents(spark, sfDir)
      .agg(org.apache.spark.sql.functions.avg("n_chars")).head().getDouble(0)
    assert(sampleMean > corpusMean,
      s"w=n_chars sampling must over-represent long docs: $sampleMean vs $corpusMean")
  }

  test("q151 quantile audit: sketch honors its 1/accuracy rank contract at every p") {
    val rows = SparkEntry.queries("q151_quantile_audit")(spark, sfDir).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("within_bound"),
        s"p=${r.getAs[Double]("p")}: rank_err ${r.getAs[Double]("rank_err")} > 1/1000")
      // the sketch and exact answers agree to sketch precision
      assert(r.getAs[Double]("rank_err") <= 0.001 + 1e-9)
    }
  }

  test("every oracleSql key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle entries without queries: $missing")
  }

  test("the inventory refuses a name two modules declare and an oracle without a query") {
    val dup = intercept[IllegalArgumentException] {
      SparkEntry.disjointUnion("query", Seq(Map("q1" -> 1, "q2" -> 2), Map("q3" -> 3, "q2" -> 4)))
    }
    assert(dup.getMessage.contains("duplicate query name(s): q2"), dup.getMessage)
    assert(SparkEntry.disjointUnion("query", Seq(Map("q1" -> 1), Map("q2" -> 2))) ==
      Map("q1" -> 1, "q2" -> 2))
    val orphan = intercept[IllegalArgumentException] {
      SparkEntry.requireQueries(Set("q1", "q9"), Set("q1", "q2"))
    }
    assert(orphan.getMessage.contains("oracle entries without a query: q9"), orphan.getMessage)
  }

  test("no query's FINAL output schema contains DecimalType (r14 gate-hash class)") {
    // Round-14 adjudication: across two driver rounds, the only two
    // hash-fails (q192, q230) were exactly the only two queries whose
    // final schema carried a DECIMAL column — the gate hasher
    // canonicalizes DECIMAL engine-dependently (scale rendering /
    // boxing). DECIMAL(38,0) arithmetic stays legal INSIDE a plan; it
    // must be cast to BIGINT / double before the final select.
    import org.apache.spark.sql.types._
    def hasDecimal(dt: DataType): Boolean = dt match {
      case _: DecimalType => true
      case s: StructType => s.fields.exists(f => hasDecimal(f.dataType))
      case a: ArrayType => hasDecimal(a.elementType)
      case m: MapType => hasDecimal(m.keyType) || hasDecimal(m.valueType)
      case _ => false
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        // the smoke loop (registered first, runs first) captured the
        // schema; rebuild only if a smoke test aborted before capturing
        val schema = capturedSchemas.synchronized {
          capturedSchemas.getOrElseUpdate(name, fn(spark, sfDir).schema)
        }
        val bad = schema.fields.filter(f => hasDecimal(f.dataType))
        if (bad.isEmpty) None
        else Some(s"$name: ${bad.map(f => s"${f.name}:${f.dataType.sql}").mkString(", ")}")
    }
    assert(offenders.isEmpty,
      s"DecimalType in final output schema:\n${offenders.mkString("\n")}")
  }
}
