package graft.runner

import java.nio.file.{Files, Paths}

import graft.SparkSpecBase
import graft.runner.plugins.DefaultRegistry
import graft.spec.{SysContext, Yaml}

/** The shipped example pipelines (examples dir) must actually run —
  * they are the user-facing face of the DSL (README points at them), so
  * they run here end-to-end against the real test data. */
class ExamplesSpec extends SparkSpecBase {

  private val examples = Paths.get("examples").toAbsolutePath
  // a fixed clock: `{sys.now.yymmdd}` output dirs must not roll between
  // a cold run and its re-run
  private val clock = SysContext(
    java.time.LocalDateTime.of(2026, 1, 1, 0, 0), "examples")

  private def makeRunner(work: java.nio.file.Path): PipelineRunner =
    new PipelineRunner(
      DefaultRegistry(),
      env = graft.RunPipeline.loadProfile("dev", Seq(examples)) +
        ("workdir" -> work.toString),
      sparkProvider = () => spark,
      assetRoots = Seq(examples),
      sysContext = Some(clock))

  /** example → the workdir of its cold run, for the re-run sweep. */
  private val coldWorkdirs =
    scala.collection.concurrent.TrieMap.empty[String, java.nio.file.Path]

  private def run(example: String): (java.nio.file.Path, PipelineRunner#RunResult) = {
    val work = Files.createTempDirectory("graft_examples")
    val res = makeRunner(work).runFile(examples.resolve(example))
    coldWorkdirs.put(example, work)
    (work, res)
  }

  test("examples/corpus_clean.yml runs: verdicts, keepers, publish") {
    val (work, res) = run("corpus_clean.yml")
    assert(res.results.size == 3)
    import scala.jdk.CollectionConverters._
    val stream = Files.walk(work)
    try {
      val files = stream.iterator().asScala.map(_.toString).toSeq
      assert(files.exists(_.contains("verdicts.parquet")))
      assert(files.exists(_.endsWith("keepers.csv")))
      assert(files.exists(_.contains("published/gdrive")))
      assert(files.exists(_.endsWith("_manifest.json")))
    } finally stream.close()
  }

  test("corpus_clean.yml re-run on its cold workdir: skipped steps " +
    "replay their outputs, publish gets the real keepers path") {
    val (work, cold) = run("corpus_clean.yml")
    val again = makeRunner(work).runFile(examples.resolve("corpus_clean.yml"))
    assert(again.results.map(_.skipped) == List(true, true, false))
    // the skipped steps bind the same fields, of the same classes, as
    // the cold run (`==` alone would take 1L for 1)
    def typed(v: Any): Any = v match {
      case m: Map[_, _] => m.map { case (k, x) => k -> typed(x) }
      case l: Seq[_] => l.map(typed)
      case null => null
      case x => (x, x.getClass)
    }
    Seq("verdicts", "keepers").foreach(v =>
      assert(typed(again.scope.outputs(v)) == typed(cold.scope.outputs(v)), v))
    // publish found the keepers the cold run published: nothing to copy
    val publish = again.results(2).fields
    assert(publish("n_published") == 0 &&
      publish("n_skipped").asInstanceOf[Int] > 0, s"got $publish")
  }

  test("examples/near_dup_audit.yml runs: quality, dedup, fingerprints") {
    val (work, res) = run("near_dup_audit.yml")
    assert(res.results.size == 3)
    val dedup = res.results(1).fields
    assert(dedup("n_in") == 500L)
    // the test corpus carries near-dups (J>=0.5 clusters) — some must drop
    assert(dedup("n_dropped").asInstanceOf[Long] > 0L,
      s"expected near-dup drops, got $dedup")
    assert(res.results(2).fields("n_fingerprints").asInstanceOf[Long] > 0L)
    import scala.jdk.CollectionConverters._
    val stream = Files.walk(work)
    try {
      val files = stream.iterator().asScala.map(_.toString).toSeq
      assert(files.exists(_.contains("verdicts.parquet")))
      assert(files.exists(_.contains("deduped.parquet")))
      assert(files.exists(_.contains("fingerprints.parquet")))
    } finally stream.close()
  }

  test("examples/refresh_gate.yml runs: reference split -> drift/OOV " +
    "audit -> cross-corpus dedup") {
    val (work, res) = run("refresh_gate.yml")
    assert(res.results.size == 4)
    val drift = res.results(2).fields
    assert(drift("n_terms").asInstanceOf[Long] > 0L, s"got $drift")
    // same documents table on both sides of the split: no OOV terms,
    // and no term can drift beyond the smoothed size-imbalance band
    assert(drift("worst_oov_rate") == 0.0, s"got $drift")
    assert(drift("max_ratio").asInstanceOf[Double] > 0.0 &&
      drift("max_ratio").asInstanceOf[Double] < 3.0, s"got $drift")
    val dedup = res.results(3).fields
    // the corpus's J>=0.5 near-dup clusters straddle the %7 split, so
    // the gate must catch real cross-corpus matches
    assert(dedup("n_matched").asInstanceOf[Long] > 0L, s"got $dedup")
    assert(dedup("n_kept") == dedup("n_in").asInstanceOf[Long] -
      dedup("n_matched").asInstanceOf[Long])
    import org.apache.spark.sql.functions.col
    val matches = spark.read
      .parquet(s"$work/refresh_gate/*/matches.parquet")
    assert(matches.filter(col("jaccard") < 0.5).isEmpty)
    // cleaned corpus disjoint from the matched ids, covers the rest
    val clean = spark.read
      .parquet(s"$work/refresh_gate/*/clean.parquet").count()
    assert(clean == dedup("n_kept").asInstanceOf[Long])
  }

  test("examples/corpus_refresh.yml runs: diff -> delta -> shards " +
    "(the incremental-refresh flow)") {
    val (_, res) = run("corpus_refresh.yml")
    assert(res.results.size == 5)
    val diff = res.results(2).fields
    // ids ≡1 (mod 5): added; ≡4 (mod 5): removed; ≡0 (mod 7) surviving
    // both carves: changed — all four statuses must occur
    assert(diff("n_added").asInstanceOf[Long] > 0L, s"got $diff")
    assert(diff("n_removed").asInstanceOf[Long] > 0L, s"got $diff")
    assert(diff("n_changed").asInstanceOf[Long] > 0L, s"got $diff")
    assert(diff("n_unchanged").asInstanceOf[Long] > 0L, s"got $diff")
    assert(diff("n_total") == diff("n_added").asInstanceOf[Long] +
      diff("n_removed").asInstanceOf[Long] +
      diff("n_changed").asInstanceOf[Long] +
      diff("n_unchanged").asInstanceOf[Long])
    // the delta re-shards only added+changed
    val shards = res.results(4).fields
    assert(shards("n_rows") == diff("n_added").asInstanceOf[Long] +
      diff("n_changed").asInstanceOf[Long], s"got $shards vs $diff")
  }

  test("examples/decontamination.yml runs: filter -> verdicts -> " +
    "clean cut -> shards (the Bloom decontamination flow)") {
    val (_, res) = run("decontamination.yml")
    assert(res.results.size == 5)
    val nBench = spark.read
      .parquet(res.results(0).fields("output_path").toString).count()
    assert(nBench > 0L)
    assert(res.results(1).fields("n_bits").asInstanceOf[Long] > 0L)
    val verdicts = res.results(2).fields
    val flagged = verdicts("n_flagged").asInstanceOf[Long]
    // no false negatives: at least every benchmark doc is flagged
    assert(flagged >= nBench, s"got $verdicts vs $nBench benchmark docs")
    val total = verdicts("n_rows").asInstanceOf[Long]
    // the clean cut is exactly corpus minus the flagged set, and the
    // shards partition it completely
    val clean = res.results(3).fields("n_rows").asInstanceOf[Long]
    assert(clean == total - flagged)
    assert(res.results(4).fields("n_rows") == clean)
  }

  test("examples/corpus_audit.yml runs: span audit, term index, publish") {
    val (work, res) = run("corpus_audit.yml")
    assert(res.results.size == 4)
    val spans = res.results(0).fields
    assert(spans("n_docs").asInstanceOf[Long] > 0L)
    // the test corpus carries J>=0.5 near-dup clusters, so some docs
    // must exceed the 0.5 repeated-span ratio and some source pairs
    // must share 8-grams
    assert(spans("n_flagged").asInstanceOf[Long] > 0L, s"got $spans")
    assert(spans("n_source_pairs").asInstanceOf[Long] > 0L, s"got $spans")
    val terms = res.results(1).fields
    assert(terms("n_terms").asInstanceOf[Long] > 0L)
    import scala.jdk.CollectionConverters._
    val stream = Files.walk(work)
    try {
      val files = stream.iterator().asScala.map(_.toString).toSeq
      assert(files.exists(_.contains("dup_spans.parquet")))
      assert(files.exists(_.contains("dup_coverage.parquet")))
      assert(files.exists(_.contains("source_overlap.parquet")))
      assert(files.exists(_.contains("term_topk.parquet")))
      assert(files.exists(_.contains("inverted_index.parquet")))
      assert(files.exists(_.contains("published/gdrive")))
    } finally stream.close()
  }

  test("examples/training_cut.yml runs: scrub → dedup → decontaminate → " +
    "mixture → pack (the full assembly)") {
    val (work, res) = run("training_cut.yml")
    assert(res.results.size == 10)
    val scrub = res.results(0).fields
    // the corpus is digit-free, so real redaction counts are zero —
    // the step still rewrites the text column end to end
    assert(scrub("n_docs").asInstanceOf[Long] > 0L)
    val dedup = res.results(1).fields
    val nKept = dedup("n_kept").asInstanceOf[Long]
    assert(nKept > 0L && nKept <= dedup("n_in").asInstanceOf[Long])
    // every benchmark doc that survived dedup is a guaranteed self-leak
    val decon = res.results(3).fields
    assert(decon("n_contaminated").asInstanceOf[Long] > 0L, s"got $decon")
    assert(decon("n_kept").asInstanceOf[Long] +
      decon("n_contaminated").asInstanceOf[Long] ==
      decon("n_in").asInstanceOf[Long])
    // mixture: listed weights (src0+src1 = 8) split the 200-row budget
    // → 100 each; the ~18 unlisted sources add default_weight/8 · 200 =
    // 25 each → expectation ≈650, ± per-stratum Bernoulli jitter and
    // the handful of rows dedup/decontamination removed upstream
    val mix = res.results(4).fields
    val nOut = mix("n_out").asInstanceOf[Long]
    assert(nOut > 580L && nOut < 700L, s"got $mix")
    // packing covers exactly the resampled training cut (every copy)
    val pack = res.results(5).fields
    assert(pack("n_docs") == mix("n_out"), s"got $pack vs $mix")
    assert(pack("n_packs").asInstanceOf[Long] >= 1L)
    // sharding covers the packed cut exactly, one directory per shard
    val shards = res.results(6).fields
    assert(shards("n_rows") == pack("n_docs"), s"got $shards vs $pack")
    assert(shards("n_shards") == 4L, s"got $shards")
    // the epoch-1 cut holds the SAME rows under an INDEPENDENT
    // deterministic permutation (different shard/position for most)
    val e1 = res.results(7).fields
    assert(e1("n_rows") == shards("n_rows"), s"got $e1 vs $shards")
    import org.apache.spark.sql.functions.col
    def cut(d: String) = spark.read.parquet(s"$work/training_cut/*/$d")
      .select(col("source"), col("pack_id"), col("pack_offset"),
        col("shard").cast("int"), col("shard_pos"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) ->
        ((r.getInt(3), r.getLong(4))))
    val (c0, c1) = (cut("shards").toMap, cut("shards_epoch1").toMap)
    assert(c0.keySet == c1.keySet, "epochs must cover the same rows")
    val moved = c0.count { case (k, v) => c1(k) != v }
    assert(moved > c0.size / 2,
      s"epoch 1 must re-key the permutation, only $moved/${c0.size} moved")
    // both epochs' MANIFESTS (the trainer-facing sidecar): cover the
    // same total under the same balance law — every shard populated,
    // doc and token totals identical across epochs (same rows, just
    // permuted), per-shard loads within the hash-balance envelope
    def mf(i: Int) = spark.read
      .parquet(res.results(i).fields("output_path").toString)
      .select(col("shard").cast("int"), col("n_docs"), col("n_tokens"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val (m0, m1) = (mf(8), mf(9))
    assert(m0.keySet == Set(0, 1, 2, 3) && m1.keySet == Set(0, 1, 2, 3))
    assert(m0.values.map(_._1).sum == m1.values.map(_._1).sum)
    assert(m0.values.map(_._2).sum == m1.values.map(_._2).sum,
      "token totals must be permutation-invariant")
    Seq(m0, m1).foreach { m =>
      val loads = m.values.map(_._1)
      val mean = loads.sum.toDouble / loads.size
      loads.foreach(l => assert(math.abs(l - mean) < mean * 0.5 + 8,
        s"shard load $l far from mean $mean — balance law broken"))
    }
    import scala.jdk.CollectionConverters._
    val stream = Files.walk(work)
    try {
      val files = stream.iterator().asScala.map(_.toString).toSeq
      Seq("scrubbed.parquet", "deduped.parquet", "benchmark.parquet",
        "clean.parquet", "leak_flags.parquet", "mixture.parquet",
        "packed.parquet").foreach(f =>
        assert(files.exists(_.contains(f)), s"$f missing"))
    } finally stream.close()
  }

  test("training_cut.yml scratch_mode=scratch: intermediates dropped " +
    "after last consumer, re-run ledger-skips via tombstones, missing " +
    "final recomputes exactly the needed sub-chain") {
    val work = Files.createTempDirectory("graft_examples_scratch")
    val runner = makeRunner(work)
    val path = Paths.get("examples/training_cut.yml").toAbsolutePath
    val ov = Map[String, Any]("scratch_mode" -> "scratch")

    val res = runner.runFile(path, ov)
    assert(res.results.size == 10)
    // the row flow is the keep-mode flow — retention only changes
    // what survives on disk, never what is computed
    val nOut = res.results(4).fields("n_out").asInstanceOf[Long]
    assert(nOut > 580L && nOut < 700L)

    import scala.jdk.CollectionConverters._
    val outdir = {
      val s = Files.list(work.resolve("training_cut"))
      try s.iterator().asScala.next() finally s.close()
    }
    val dropped = Seq("scrubbed.parquet", "deduped.parquet",
      "benchmark.parquet", "clean.parquet")
    dropped.foreach { f =>
      assert(!Files.exists(outdir.resolve(f)), s"$f must be dropped")
      assert(Files.exists(outdir.resolve(f + ".tombstone")),
        s"$f.tombstone must mark the drop")
    }
    // finals + audit artifacts stay
    Seq("mixture.parquet", "packed.parquet", "shards", "shards_epoch1",
      "manifest_epoch0.parquet", "manifest_epoch1.parquet",
      "leak_flags.parquet").foreach(f =>
      assert(Files.exists(outdir.resolve(f)), s"$f must be kept"))

    // re-run: every step skips — tombstones count as materialized
    // while every transitive consumer also skips
    val res2 = runner.runFile(path, ov)
    assert(res2.results.forall(_.skipped),
      s"re-run must skip 10/10, got ${res2.results.map(_.skipped)}")

    // delete a FINAL output: the chain re-runs exactly the sub-chain
    // that feeds it (scrub → dedup → benchmark → decontaminate →
    // resample) and leaves the later, still-materialized steps skipped
    def rmTree(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(q => Files.deleteIfExists(q))
      finally s.close()
    }
    rmTree(outdir.resolve("mixture.parquet"))
    val res3 = runner.runFile(path, ov)
    val ran = res3.results.map(!_.skipped)
    assert(ran == List(true, true, true, true, true,
      false, false, false, false, false),
      s"recompute must cover steps 1-5 only, got $ran")
    assert(Files.exists(outdir.resolve("mixture.parquet")))
    // and the recomputed intermediates are dropped again
    dropped.foreach { f =>
      assert(!Files.exists(outdir.resolve(f)), s"$f must be re-dropped")
      assert(Files.exists(outdir.resolve(f + ".tombstone")))
    }
  }

  test("near_dup_audit re-run is ledger-skipped (idempotent steps)") {
    val work = Files.createTempDirectory("graft_examples_rerun")
    val runner = makeRunner(work)
    val p = Paths.get("examples/near_dup_audit.yml").toAbsolutePath
    val first = runner.runFile(p)
    assert(first.results.forall(!_.skipped))
    // same workdir, outputs materialized → every step skips, nothing
    // recomputes (the reference's skip-if-exists re-run contract)
    val again = runner.runFile(p)
    assert(again.results.forall(_.skipped),
      again.results.map(_.skipped).toString)
  }

  test("examples/profile_demo.yml selects a named env profile (--env)") {
    // full CLI path: --env dev loads examples/envs/dev.yml; the inline
    // region=us-west must beat the profile's region (CLI wins), while
    // greeting comes from the profile alone
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      graft.RunPipeline.main(Array("examples/profile_demo.yml",
        "--env", "dev", "region=us-west"))
    }
    val printed = out.toString
    assert(printed.contains("hello-dev in us-west"), printed)

    // unknown profile fails loudly, naming the locations searched
    val err = intercept[IllegalArgumentException] {
      graft.RunPipeline.loadProfile("nope",
        Seq(Paths.get("examples").toAbsolutePath))
    }
    assert(err.getMessage.contains("envs/nope.yml"))
  }

  test("examples/relational_sink.yml runs: seed + upsert into the .duckdb file") {
    val (work, res) = run("relational_sink.yml")
    assert(res.results.size == 4)
    val seeded = res.results(1).fields("n_rows").asInstanceOf[Long]
    val merged = res.results(3).fields("n_rows").asInstanceOf[Long]
    // the en-only changelog re-keys a subset of the same sources, so the
    // upsert must not grow the table
    assert(seeded > 0 && merged == seeded, s"seed=$seeded merged=$merged")
    // read back through the DuckDB JDBC driver — the store really is
    // the reference's declared .duckdb single-file database
    val props = new java.util.Properties()
    props.setProperty("driver", "org.duckdb.DuckDBDriver")
    // eager read-back inside the gate: every DuckDB connection (schema
    // probe + scan) completes before a parallel suite can interleave
    val back = graft.sources.DuckGate.withDuck {
      spark.read.jdbc(
        s"jdbc:duckdb:$work/relational_sink/corpus_stats.duckdb",
        "source_stats", props).localCheckpoint()
    }
    assert(back.count() == seeded)
    // upserted sources now carry en-only counts (strictly fewer docs
    // than the all-language seed for this corpus)
    import org.apache.spark.sql.functions.{col, sum}
    // DuckDB surfaces SUM(BIGINT) as HUGEINT → DECIMAL on read-back
    val total = back.agg(sum(col("n_docs"))).head()
      .getAs[Number](0).longValue()
    val allDocs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").count()
    assert(total < allDocs, s"expected en-only restat to shrink: $total")
  }

  test("examples/daily_rollup.yml runs: 3-way fan-out + combined csv") {
    val (work, res) = run("daily_rollup.yml")
    assert(res.results.head.fields("n_invocations") == 3)
    import scala.jdk.CollectionConverters._
    val combined = Files.walk(work).iterator().asScala
      .find(_.toString.endsWith("daily_rollup.csv"))
    assert(combined.isDefined, "combined csv missing")
    val lines = Files.readAllLines(combined.get).asScala
    assert(lines.head.startsWith("user_id"))
    assert(lines.size > 10)
  }

  test("examples/curation_suite.yml runs: LM score, DSIR, curriculum, semdedup, outliers, pagerank, budget, floor, triangles, ann, leakage split, cluster weights, topic pairs") {
    val (_, res) = run("curation_suite.yml")
    assert(res.results.size == 18)
    val byStep = res.results.map(_.fields)
    // lm: 10% train slice → 90% scored, some with OOV bigrams
    assert(byStep(0)("n_scored") == 450L)
    assert(byStep(0)("n_oov_docs").asInstanceOf[Long] > 0L)
    assert(byStep(1)("n_docs") == 500L)  // dsir: every doc weighted
    assert(byStep(2)("n_docs") == 500L)  // curriculum: every doc ranked
    // semdedup at the near-dup threshold must actually drop vectors
    val kept = byStep(3)("n_kept").asInstanceOf[Long]
    assert(byStep(3)("n_in") == 500L && kept < 500L && kept > 0L)
    // outlier audit runs over the SURVIVORS only
    assert(byStep(4)("n_vectors") == kept)
    assert(byStep(4)("n_outliers").asInstanceOf[Long] > 0L)
    // pagerank: every doc participates in the same-source chain graph
    assert(byStep(6)("n_nodes") == 500L)
    // budget: every row audited; the 20k/source cap must actually bite
    val budKept = byStep(7)("n_kept").asInstanceOf[Long]
    assert(byStep(7)("n_out") == 500L && budKept > 0L && budKept < 500L)
    // bpe: one merge learned per requested round
    assert(byStep(8)("n_merges") == 8L)
    // floor: dropping each source's bottom quartile keeps ~75%
    val floorKept = byStep(9)("n_kept").asInstanceOf[Long]
    assert(byStep(9)("n_out") == 500L &&
      floorKept > 300L && floorKept < 450L, s"floor kept $floorKept")
    // triangles: chain+skip-2 edges close a triad at every interior
    // doc, so most nodes sit in >=1 closed triangle
    assert(byStep(11)("n_nodes") == 500L)
    assert(byStep(11)("n_closed").asInstanceOf[Long] > 400L)
    // 2-core of chain+skip-2: nothing peels, convergence is total
    assert(byStep(12)("n_nodes") == 500L)
    assert(byStep(12)("n_converged") == 500L)
    // ann: every survivor indexed across 8 clusters; each query gets
    // its k=3 neighbors from the persisted partition-pruned index
    assert(byStep(13)("n_indexed") == kept)
    assert(byStep(13)("n_clusters") == 8L)
    assert(byStep(13)("n_answers") == kept * 3L)
    // leakage split: every doc assigned, both splits populated
    assert(byStep(14)("n_docs") == 500L)
    assert(byStep(14)("n_train").asInstanceOf[Long] > 0L &&
      byStep(14)("n_val").asInstanceOf[Long] > 0L)
    // cluster weights: the near-dup fixture guarantees clustered docs
    assert(byStep(15)("n_docs") == 500L)
    assert(byStep(15)("n_clustered").asInstanceOf[Long] > 0L)
    // topic pairs: the small vocabulary co-occurs heavily
    assert(byStep(16)("n_pairs").asInstanceOf[Long] > 0L)
    // group sample: exactly k=5 per source stratum
    assert(byStep(17)("n_groups") == 20L)
    assert(byStep(17)("n_sampled") == 100L)
  }

  test("examples/event_analytics.yml runs: funnel, retention, scd2, count-min, quantiles") {
    val (_, res) = run("event_analytics.yml")
    assert(res.results.size == 5)
    val byStep = res.results.map(_.fields)
    // funnel: some users enter (view) and a subset converts end-to-end
    val entered = byStep(0)("n_entered").asInstanceOf[Long]
    val converted = byStep(0)("n_converted").asInstanceOf[Long]
    assert(entered > 0L && converted > 0L && converted <= entered)
    // retention: at least the offset-0 cell exists per cohort
    assert(byStep(1)("n_cells").asInstanceOf[Long] >=
      byStep(1)("n_cohorts").asInstanceOf[Long])
    // scd2: exactly one open (is_current) interval per user with events
    assert(byStep(2)("n_current").asInstanceOf[Long] > 0L)
    assert(byStep(2)("n_intervals").asInstanceOf[Long] >=
      byStep(2)("n_current").asInstanceOf[Long])
    // count-min: counter grid bounded by d*width; estimates written
    val counters = byStep(3)("n_counters").asInstanceOf[Long]
    assert(counters > 0L && counters <= 4L * 256L)
    assert(byStep(3)("n_estimated").asInstanceOf[Long] > 0L)
    // quantiles: one estimate row per requested q, from merged partials
    assert(byStep(4)("n_quantiles").asInstanceOf[Long] == 4L)
  }

  test("every example's immediate re-run succeeds and skips every step " +
    "with a declared file or table output") {
    import scala.jdk.CollectionConverters._
    val all = {
      val s = Files.list(examples)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".yml")).toList.sorted
      finally s.close()
    }
    assert(all.size >= 12, all)
    all.foreach { example =>
      val work = coldWorkdirs.getOrElse(example, run(example)._1)
      val again = makeRunner(work).runFile(examples.resolve(example))
      // `output_dir` steps (corpus_audit) declare no output: they re-run
      val declaring = Yaml.loadPipeline(examples.resolve(example)).steps
        .map(s => Ledger.declaredOutputs(s.args).nonEmpty)
      val ranAnyway = declaring.zip(again.results).zipWithIndex.collect {
        case ((true, r), i) if !r.skipped => i
      }
      assert(ranAnyway.isEmpty,
        s"$example re-ran steps $ranAnyway that declare outputs")
    }
  }
}
