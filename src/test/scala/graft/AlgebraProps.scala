package graft

import graft.functions.{CosineSimilarity, HashUtil}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import org.scalacheck.Test.Parameters

/** The SURVEY.md §5.4 algebraic laws as scalacheck properties. Every
  * law runs 20 cases (a Spark-backed case is a Spark job). */
object AlgebraProps extends Properties("graft.algebra") {

  private lazy val spark = TestSpark.spark

  // A fixed initial seed, not `useSeed` on each property: `useSeed`
  // restarts every case from the same seed, so only the size varies.
  override def overrideParameters(p: Parameters): Parameters =
    p.withMinSuccessfulTests(20)
      .withInitialSeed(org.scalacheck.rng.Seed(42L))

  private val rowsGen: Gen[List[(Int, Int)]] =
    Gen.listOfN(30, Gen.zip(Gen.chooseNum(0, 20), Gen.chooseNum(-50, 50)))

  // 1. filter ∘ filter fusion = conjunction
  property("filterFusion") = forAll(rowsGen, Gen.chooseNum(-40, 40),
    Gen.chooseNum(-40, 40)) { (rows, t1, t2) =>
    import spark.implicits._
    val df = rows.toDF("k", "v")
    val chained = df.filter(col("v") > t1).filter(col("v") < t2).count()
    val fused = df.filter(col("v") > t1 && col("v") < t2).count()
    chained == fused
  }

  // 2. union-all count additivity
  property("unionAllAdditivity") = forAll(rowsGen, rowsGen) { (a, b) =>
    import spark.implicits._
    a.toDF("k", "v").unionByName(b.toDF("k", "v")).count() == a.size + b.size
  }

  // 3. top-K per group ⊆ group rows, ≤ K per group
  property("topKPerGroupSubset") = forAll(rowsGen, Gen.chooseNum(1, 5)) { (rows, k) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = rows.zipWithIndex.map { case ((g, v), i) => (g, v, i) }.toDF("g", "v", "id")
    val w = Window.partitionBy("g").orderBy(col("v").desc, col("id").asc)
    val top = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("g", "v", "id").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
    val all = rows.zipWithIndex.map { case ((g, v), i) => (g, v, i) }.toSet
    val perGroup = top.groupBy(_._1).forall(_._2.length <= k)
    top.toSet.subsetOf(all) && perGroup
  }

  // 4. dedup idempotence: dedup(dedup(x)) == dedup(x)
  property("dedupIdempotence") = forAll(rowsGen) { rows =>
    import spark.implicits._
    val df = rows.toDF("k", "v")
    val once = df.dropDuplicates("k")
    val twice = once.dropDuplicates("k")
    once.count() == twice.count() &&
      once.select("k").distinct().count() == once.count()
  }

  // 5. cosine(v, v) == 1 ± ε for any nonzero vector (pure expression)
  private val vecGen: Gen[Array[Float]] =
    Gen.listOfN(32, Gen.chooseNum(-10.0f, 10.0f)).map(_.toArray)
      .suchThat(v => v.exists(x => math.abs(x) > 1e-3))
  property("cosineSelfIsOne") = forAll(vecGen) { v =>
    val arr = new GenericArrayData(v.map(x => x: Any))
    val c = CosineSimilarity(null, null).nullSafeEval(arr, arr).asInstanceOf[Double]
    math.abs(c - 1.0) < 1e-9
  }

  // 6. session windows partition the per-user timeline: every event in
  // exactly one session, sessions disjoint and gap-separated
  private val tsGen: Gen[List[Long]] =
    Gen.listOfN(25, Gen.chooseNum(0L, 200L)).map(_.distinct)
  property("sessionWindowsPartitionTimeline") = forAll(tsGen) { minutes =>
    import spark.implicits._
    minutes.isEmpty || {
      val events = minutes.map(m => (1L, new java.sql.Timestamp(m * 60000L)))
        .toDF("user_id", "ts")
      val sess = events
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("session_window.start").cast("long").as("s"),
          col("session_window.end").cast("long").as("e"), col("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val coversAll = sess.map(_._3).sum == minutes.size
      val sorted = sess.sortBy(_._1)
      val disjointWithGaps = sorted.zip(sorted.drop(1)).forall {
        case ((_, e1, _), (s2, _, _)) => s2 - e1 >= 0 // next starts after prev end
      }
      coversAll && disjointWithGaps
    }
  }

  // 7. splitmix64 mixing is a bijection (invertibility ⇒ no hash-slot
  // collapse in MinHashSig): distinct inputs map to distinct outputs
  property("mixInjectiveOnSamples") = forAll(Gen.listOfN(200, Gen.long)) { xs =>
    val d = xs.distinct
    d.map(HashUtil.mix).distinct.size == d.size
  }

  // 8. win_ntile_pct's closed-form quartile (Analytic.scala) equals the
  // SQL-standard ntile(4) assignment for every (n, rank) — the exact
  // arithmetic the distributed two-phase rank relies on
  property("ntileClosedForm") = forAll(Gen.chooseNum(1, 500)) { n =>
    val b = n / 4; val r = n % 4
    def formula(rn: Long): Long =
      if (n < 4) rn
      else if (rn <= r.toLong * (b + 1)) (rn + b) / (b + 1)
      else r + (rn - r.toLong * (b + 1) + b - 1) / b
    // reference ntile: first n%4 tiles take ceil(n/4) rows, rest floor
    val expected = (1 to 4).flatMap(i =>
      Seq.fill(if (i <= r) b + 1 else b)(i.toLong))
    (1 to n).forall(rn => formula(rn) == expected(rn - 1))
  }

  // 9. winnowing completeness under suffix deletion: two docs sharing
  // ≥ 6 consecutive tokens share ≥ 4 consecutive 3-gram hashes — one
  // full w=4 window — hence ≥ 1 identical window minimum, i.e. ≥ 1
  // shared fingerprint. Dropping the last token preserves the whole
  // prefix, so the incremental-dedup ledger's candidate index MUST
  // pair every suffix-dropped near-copy with its original (the
  // recall guarantee llm_dedup_incremental's phase 2 rests on).
  private val docGen: Gen[List[String]] =
    Gen.chooseNum(8, 20).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0, 40).map(i => s"w$i")))
  property("winnowingCatchesSuffixDrop") = forAll(docGen) { toks =>
    import spark.implicits._
    val df = Seq((1L, toks.mkString(" ")), (2L, toks.dropRight(1).mkString(" ")))
      .toDF("id", "text")
    val fps = graft.llm.DedupApi.portableFingerprints(df, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val a = fps.collect { case (1L, f) => f }.toSet
    val b = fps.collect { case (2L, f) => f }.toSet
    a.intersect(b).nonEmpty
  }
}
