package graft.runner

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.SparkSpecBase
import graft.runner.plugins.DefaultRegistry
import graft.spec.{SysContext, Yaml}

class RunnerSpec extends SparkSpecBase {

  private def tmpDir(): Path = Files.createTempDirectory("graft_runner")

  private val counter = new AtomicInteger(0)
  private object CountingPlugin extends StepPlugin {
    val name = "count_runs"
    def run(ctx: StepContext): StepResult = {
      counter.incrementAndGet()
      StepResult(Map("count" -> counter.get()))
    }
  }
  private object WriteFilePlugin extends StepPlugin {
    val name = "write_file"
    def run(ctx: StepContext): StepResult = {
      val p = Paths.get(ctx.argStr("path"))
      Files.createDirectories(p.getParent)
      Files.writeString(p, ctx.argStr("content"))
      StepResult(Map("path" -> p.toString))
    }
  }

  private object FailIfPlugin extends StepPlugin {
    val name = "fail_if"
    def run(ctx: StepContext): StepResult =
      if (ctx.argBool("fail", default = false))
        throw new IllegalStateException("injected fault")
      else StepResult()
  }

  /** Writes `output_path` and returns fields of many classes. */
  private object TypedFieldsPlugin extends StepPlugin {
    val name = "typed_fields"
    def run(ctx: StepContext): StepResult = {
      val p = Paths.get(ctx.argStr("output_path"))
      Files.createDirectories(p.getParent)
      Files.writeString(p, "x\n")
      StepResult(Map("output_path" -> p.toString, "n_int" -> 3,
        "n_long" -> 3L, "big" -> Long.MaxValue, "ratio" -> 0.1,
        "nan" -> Double.NaN, "f" -> 1.5f, "ok" -> true, "none" -> null,
        "parts" -> List(1, "a", 2L), "nested" -> Map("k" -> 7)))
    }
  }

  private def runner(root: Path) = new PipelineRunner(
    DefaultRegistry().withPlugins(Seq(CountingPlugin, WriteFilePlugin,
      FailIfPlugin, TypedFieldsPlugin)),
    env = Map("basedir" -> root.toString, "workdir" -> s"$root/work"),
    sparkProvider = () => spark,
    assetRoots = Seq(root),
    sysContext = Some(SysContext(
      java.time.LocalDateTime.of(2026, 8, 12, 10, 0, 0), "test01")))

  private def write(root: Path, rel: String, yaml: String): Path = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.writeString(p, yaml)
    p
  }

  test("targeted_delete step: keyed forget pass reports counts") {
    val root = tmpDir()
    import spark.implicits._
    val data = s"$root/data"
    Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0))
      .toDF("id", "part", "v").write.partitionBy("part").parquet(data)
    val p = write(root, "forget.yml",
      s"""project_id: default
         |steps:
         |  - plugin: targeted_delete
         |    args:
         |      dataset_path: "$data"
         |      keys: [id]
         |      partition_cols: [part]
         |      where: "id = 2"
         |""".stripMargin)
    val res = runner(root).runFile(p)
    val f = res.results.head.fields
    assert(f("n_before") == 3L && f("n_after") == 2L && f("n_deleted") == 1L)
    assert(spark.read.parquet(data).collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 3L))
  }

  test("echo pipeline: vars/dirs/steps with sys.step numbering (sample.yml shape)") {
    val root = tmpDir()
    val p = write(root, "sample.yml",
      """project_id: default
        |vars:
        |  who: world
        |dirs:
        |  outdir: "{env.workdir}/{sys.now.yymmdd}"
        |steps:
        |  - name: "{sys.step.NN}_echo"
        |    plugin: echo
        |    args:
        |      message: "hello {who}"
        |""".stripMargin)
    val res = runner(root).runFile(p)
    assert(res.results.size == 1)
    assert(res.results.head.fields("message") == "hello world")
    assert(Files.isDirectory(Paths.get(s"$root/work/260812")))
  }

  test("BOM-prefixed YAML and filename with a space load fine (§1.2)") {
    val root = tmpDir()
    val p = write(root, "download-ts-tmin-day copy.yml",
      "﻿project_id: default\nvars: {}\nsteps:\n  - plugin: echo\n")
    val res = runner(root).runFile(p)
    assert(res.pipeline.projectId == "default")
    assert(res.results.size == 1)
  }

  test("foreach fans out per item; item binds into args") {
    val root = tmpDir()
    val p = write(root, "fan.yml",
      """vars:
        |  years: "{expr.range(2020, 2023)}"
        |steps:
        |  - plugin: write_file
        |    foreach: years
        |    args:
        |      path: "{env.basedir}/out/y{item}.txt"
        |      content: "year={item}"
        |""".stripMargin)
    val res = runner(root).runFile(p)
    assert(res.results.head.fields("n_invocations") == 3)
    assert((2020 to 2022).forall(y =>
      Files.readString(root.resolve(s"out/y$y.txt")) == s"year=$y"))
  }

  test("sequential_foreach preserves order (child yml:33)") {
    val root = tmpDir()
    val p = write(root, "seq.yml",
      """vars:
        |  days: "{expr.daterange(expr.date(2024,1,1), expr.date(2024,1,3))}"
        |steps:
        |  - plugin: write_file
        |    sequential_foreach: days
        |    args:
        |      path: "{env.basedir}/seq/log.txt"
        |      content: "last={item}"
        |""".stripMargin)
    runner(root).runFile(p)
    // last sequential write wins — proves in-order execution
    assert(Files.readString(root.resolve("seq/log.txt")) == "last=20240103")
  }

  test("ledger: overwrite:false skips materialized outputs on re-run (§4)") {
    val root = tmpDir()
    val src = root.resolve("src.txt")
    Files.writeString(src, "payload")
    val p = write(root, "dl.yml",
      s"""steps:
         |  - plugin: web_download_list
         |    args:
         |      url: "file://$src"
         |      out: "{env.basedir}/staged"
         |      overwrite: false
         |""".stripMargin)
    val r = runner(root)
    val first = r.runFile(p)
    assert(first.results.head.fields("n_fetched") == 1)
    val second = r.runFile(p)
    assert(second.results.head.fields("n_skipped") == 1)
    assert(second.results.head.fields("n_fetched") == 0)
  }

  test("parent/child pipeline_execute with vars_kv override (parent yml:14-22)") {
    val root = tmpDir()
    write(root, "child.yml",
      """vars:
        |  year: 2025
        |steps:
        |  - plugin: write_file
        |    args:
        |      path: "{env.basedir}/child/{year}.txt"
        |      content: "ran {year}"
        |""".stripMargin)
    val parent = write(root, "parent.yml",
      """vars:
        |  years: "{expr.range(2020, 2022)}"
        |steps:
        |  - name: run_child_year
        |    plugin: pipeline_execute
        |    foreach: years
        |    parallel_with: year_children
        |    args:
        |      pipeline_path: child.yml
        |      mode: synchronized
        |      vars_kv: "year={item}"
        |""".stripMargin)
    runner(root).runFile(parent)
    assert(Files.readString(root.resolve("child/2020.txt")) == "ran 2020")
    assert(Files.readString(root.resolve("child/2021.txt")) == "ran 2021")
    assert(!Files.exists(root.resolve("child/2025.txt"))) // override won
  }

  test("requires_pipelines run first and are memoized per session (§3.3)") {
    val root = tmpDir()
    counter.set(0)
    write(root, "dep.yml",
      "steps:\n  - plugin: count_runs\n")
    val a = write(root, "a.yml",
      "requires_pipelines:\n  - dep.yml\nsteps:\n  - plugin: echo\n")
    val b = write(root, "b.yml",
      "requires_pipelines:\n  - dep.yml\nsteps:\n  - plugin: echo\n")
    val r = runner(root)
    r.runFile(a)
    r.runFile(b)
    assert(counter.get() == 1, "dependency must run exactly once per session")
  }

  test("requires_pipelines cycle fails fast with the chain in the message") {
    val root = tmpDir()
    write(root, "x.yml",
      "requires_pipelines:\n  - y.yml\nsteps:\n  - plugin: echo\n")
    write(root, "y.yml",
      "requires_pipelines:\n  - x.yml\nsteps:\n  - plugin: echo\n")
    val e = intercept[IllegalStateException] {
      runner(root).runFile(root.resolve("x.yml"))
    }
    assert(e.getMessage.contains("cycle"))
    assert(e.getMessage.contains("x.yml") && e.getMessage.contains("y.yml"))
  }

  test("chained requires_pipelines resolve through the memo (re-entrancy)") {
    // a -> b -> c: resolving b happens INSIDE resolving a — the memo must
    // tolerate re-entrant resolution (a computeIfAbsent would throw)
    val root = tmpDir()
    counter.set(0)
    write(root, "c.yml", "steps:\n  - plugin: count_runs\n")
    write(root, "b.yml",
      "requires_pipelines:\n  - c.yml\nsteps:\n  - plugin: count_runs\n")
    val a = write(root, "a2.yml",
      "requires_pipelines:\n  - b.yml\n  - c.yml\nsteps:\n  - plugin: echo\n")
    runner(root).runFile(a)
    assert(counter.get() == 2, "b and c each run exactly once")
  }

  test("pipeline_execute mode:async overlaps and merges at pipeline end") {
    val root = tmpDir()
    write(root, "slow_child.yml",
      """steps:
        |  - plugin: write_file
        |    args:
        |      path: "{env.basedir}/async/child.txt"
        |      content: "child done"
        |""".stripMargin)
    val parent = write(root, "apar.yml",
      """steps:
        |  - plugin: pipeline_execute
        |    args:
        |      pipeline_path: slow_child.yml
        |      mode: async
        |  - plugin: echo
        |    args:
        |      message: "parent continues"
        |""".stripMargin)
    val res = runner(root).runFile(parent)
    // async step returns a handle record immediately...
    assert(res.results.head.fields("mode") == "async")
    // ...but the run does not complete before the child: merged result
    // present and the child's side effect visible
    assert(res.results.exists(_.fields.get("async_child")
      .contains("slow_child.yml")))
    assert(Files.readString(root.resolve("async/child.txt")) == "child done")
  }

  test("nested same-group foreach runs caller-side instead of deadlocking") {
    val root = tmpDir()
    // child fans out on the DEFAULT pool; the parent foreach'd into the
    // same pool — saturating it with parents used to deadlock
    write(root, "nest_child.yml",
      """vars:
        |  parts: "{expr.range(0, 2)}"
        |  idx: 0
        |steps:
        |  - plugin: write_file
        |    foreach: parts
        |    args:
        |      path: "{env.basedir}/nest/{idx}_{item}.txt"
        |      content: "ok"
        |""".stripMargin)
    val parent = write(root, "nest_parent.yml",
      """vars:
        |  kids: "{expr.range(0, 8)}"
        |steps:
        |  - plugin: pipeline_execute
        |    foreach: kids
        |    args:
        |      pipeline_path: nest_child.yml
        |      vars_kv: "idx={item}"
        |""".stripMargin)
    val done = new java.util.concurrent.CountDownLatch(1)
    val t = new Thread(() => { runner(root).runFile(parent); done.countDown() })
    t.setDaemon(true)
    t.start()
    assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS),
      "nested foreach deadlocked")
    assert((0 until 8).forall(i => (0 until 2).forall(j =>
      Files.exists(root.resolve(s"nest/${i}_$j.txt")))))
  }

  test("resources: mem maps to scheduler-pool/job conf during the step") {
    val root = tmpDir()
    object SnoopPlugin extends StepPlugin {
      val name = "snoop_props"
      def run(ctx: StepContext): StepResult = {
        val sc = ctx.spark.sparkContext
        StepResult(Map(
          "pool" -> String.valueOf(sc.getLocalProperty("spark.scheduler.pool")),
          "mem" -> String.valueOf(sc.getLocalProperty("graft.step.mem"))))
      }
    }
    val r = new PipelineRunner(
      DefaultRegistry().withPlugins(Seq(SnoopPlugin)),
      env = Map("basedir" -> root.toString),
      sparkProvider = () => spark,
      assetRoots = Seq(root))
    val p = write(root, "res.yml",
      """steps:
        |  - plugin: snoop_props
        |    resources:
        |      mem: 16G
        |  - plugin: snoop_props
        |""".stripMargin)
    val res = r.runFile(p)
    assert(res.results.head.fields("pool") == "resources-16G")
    assert(res.results.head.fields("mem") == "16G")
    // restored after the step — the second (resource-less) step sees none
    assert(res.results(1).fields("mem") == "null")
  }

  test("ftp tree walk: remote listing recursion + glob + ledger (S2)") {
    import graft.runner.plugins.RemoteTreeWalker
    // an in-memory "FTP server": directories list their entries (dirs
    // carry trailing slashes), files stream bytes — exercises the REAL
    // remote walk path (recursion, glob, relative layout, idempotence)
    val tree = Map(
      "ftp://host/data" -> Seq("2020/", "2021/", "README.txt"),
      "ftp://host/data/2020" -> Seq("PRISM_ppt_20200101_bil.zip",
        "PRISM_ppt_20200102_bil.zip", "notes.md"),
      "ftp://host/data/2021" -> Seq("PRISM_ppt_20210101_bil.zip"))
    val lister = new RemoteTreeWalker.Lister {
      def list(url: String) = tree.get(url.stripSuffix("/"))
    }
    val fetched = collection.mutable.ListBuffer[String]()
    val walker = new RemoteTreeWalker(lister,
      (url, target) => { fetched += url; Files.writeString(target, url) })
    val root = tmpDir()
    val r = new PipelineRunner(
      DefaultRegistry().withPlugins(Seq(walker)),
      env = Map("basedir" -> root.toString),
      sparkProvider = () => spark, assetRoots = Seq(root))
    val p = write(root, "ftp.yml",
      s"""steps:
         |  - plugin: ftp_download_tree
         |    args:
         |      url: "ftp://host/data"
         |      out: "{env.basedir}/mirror"
         |      filename_glob: "*.zip"
         |      recursive: true
         |      overwrite: false
         |""".stripMargin)
    val res = r.runFile(p)
    assert(res.results.head.fields("n_fetched") == 3) // .md/.txt excluded
    assert(Files.exists(root.resolve(
      "mirror/2020/PRISM_ppt_20200102_bil.zip")))
    assert(Files.exists(root.resolve(
      "mirror/2021/PRISM_ppt_20210101_bil.zip")))
    assert(!Files.exists(root.resolve("mirror/README.txt")))
    // idempotent re-run: ledger skips everything
    val again = r.runFile(p)
    assert(again.results.head.fields("n_skipped") == 3)
    assert(again.results.head.fields("n_fetched") == 0)
  }

  test("ftp tree walk: same-named single child is a dir, not a file; " +
    "depth cap stops cycle-shaped listings") {
    import graft.runner.plugins.RemoteTreeWalker
    // d is a DIRECTORY holding exactly one file also named d — NLST on
    // both answers Seq("d"), so only the grandchild probe (d/d/d → no
    // listing) tells the walker which level is the file
    val tree = Map(
      "ftp://host/tricky" -> Seq("d"),
      "ftp://host/tricky/d" -> Seq("d"),
      "ftp://host/tricky/d/d" -> Seq("d")) // NLST file self-echo
    val lister = new RemoteTreeWalker.Lister {
      def list(url: String) = tree.get(url.stripSuffix("/"))
    }
    val fetched = collection.mutable.ListBuffer[String]()
    val walker = new RemoteTreeWalker(lister,
      (url, target) => { fetched += url; Files.writeString(target, url) })
    val root = tmpDir()
    val r = new PipelineRunner(
      DefaultRegistry().withPlugins(Seq(walker)),
      env = Map("basedir" -> root.toString),
      sparkProvider = () => spark, assetRoots = Seq(root))
    r.runFile(write(root, "tricky.yml",
      s"""steps:
         |  - plugin: ftp_download_tree
         |    args:
         |      url: "ftp://host/tricky"
         |      out: "{env.basedir}/mirror"
         |""".stripMargin))
    assert(fetched.toList == List("ftp://host/tricky/d/d"),
      s"expected the FILE under the same-named dir, got $fetched")
    assert(Files.exists(root.resolve("mirror/d/d")))
    // a listing that descends forever (every dir lists another dir)
    // must hit the depth cap, not hang
    val loopLister = new RemoteTreeWalker.Lister {
      def list(url: String) = Some(Seq("x/"))
    }
    val loopWalker = new RemoteTreeWalker(loopLister, (_, _) => ())
    val r2 = new PipelineRunner(
      DefaultRegistry().withPlugins(Seq(loopWalker)),
      env = Map("basedir" -> root.toString),
      sparkProvider = () => spark, assetRoots = Seq(root))
    val e = intercept[Exception] {
      r2.runFile(write(root, "loop.yml",
        s"""steps:
           |  - plugin: ftp_download_tree
           |    args:
           |      url: "ftp://host/loop"
           |      out: "{env.basedir}/mirror2"
           |      max_depth: 5
           |""".stripMargin))
    }
    assert(e.getMessage.contains("max_depth"), e.getMessage)
  }

  test("a failing step drains async children instead of orphaning them") {
    val root = tmpDir()
    write(root, "slow_child.yml",
      s"""steps:
         |  - plugin: exec_script
         |    args:
         |      script: "sleep 0.3; echo done > $root/child_done.txt"
         |""".stripMargin)
    val p = write(root, "parent_fail.yml",
      s"""steps:
         |  - plugin: pipeline_execute
         |    args:
         |      pipeline_path: slow_child.yml
         |      mode: async
         |  - plugin: exec_script
         |    args:
         |      script: "exit 3"
         |""".stripMargin)
    intercept[Exception] { runner(root).runFile(p) }
    // the run terminated by failure must still have awaited its child
    assert(Files.exists(root.resolve("child_done.txt")),
      "async child was orphaned by the failing run")
  }

  test("stac_asset_download: paging via next links, collection filter, " +
    "signed asset hrefs (S3)") {
    val root = tmpDir()
    // two payloads the unsigned hrefs resolve to only through a signer
    val payloadA = root.resolve("a_data.bin")
    val payloadC = root.resolve("c_data.bin")
    Files.writeString(payloadA, "bytes-of-a")
    Files.writeString(payloadC, "bytes-of-c")
    // Planetary-Computer-style signing endpoint: href → {"href": signed}
    val signer = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    signer.createContext("/sign", (ex: com.sun.net.httpserver.HttpExchange) => {
      val q = ex.getRequestURI.getQuery // href=<urlencoded>
      val href = java.net.URLDecoder.decode(q.stripPrefix("href="), "UTF-8")
      val real = if (href.endsWith("a.bin")) payloadA else payloadC
      val body = s"""{"href": "${real.toUri}"}""".getBytes
      ex.sendResponseHeaders(200, body.length.toLong)
      ex.getResponseBody.write(body); ex.close()
    })
    signer.start()
    try {
      def item(id: String, coll: String, asset: String) =
        s"""{"id": "$id", "collection": "$coll",
           |  "properties": {"datetime": "2024-06-0${id.last}T12:00:00Z"},
           |  "assets": {"data": {"href": "https://cat.invalid/$asset"}}}"""
          .stripMargin
      val page2 = root.resolve("page2.json")
      Files.writeString(page2,
        s"""{"features": [${item("c3", "wanted", "c.bin")}], "links": []}""")
      val page1 = root.resolve("page1.json")
      Files.writeString(page1,
        s"""{"features": [${item("a1", "wanted", "a.bin")},
           |              ${item("b2", "other", "b.bin")}],
           | "links": [{"rel": "next", "href": "${page2.toUri}"}]}"""
          .stripMargin)
      val p = write(root, "stac.yml",
        s"""steps:
           |  - plugin: stac_asset_download
           |    args:
           |      api_url: "${page1.toUri}"
           |      collection: wanted
           |      page_size: 1
           |      sign_api_url: "http://127.0.0.1:${signer.getAddress.getPort}/sign"
           |      asset_keys: [data]
           |      save_item_json: true
           |      out: "{env.basedir}/staged"
           |""".stripMargin)
      val res = runner(root).runFile(p).results.head.fields
      // both pages walked, the 'other'-collection item filtered out
      assert(res("n_items") == 2 && res("n_assets") == 2, res.toString)
      assert(Files.readString(root.resolve("staged/a1_data.bin"))
        == "bytes-of-a")
      assert(Files.readString(root.resolve("staged/c3_data.bin"))
        == "bytes-of-c")
      assert(Files.exists(root.resolve("staged/a1.json")))
      assert(!Files.exists(root.resolve("staged/b2.json")), "filter leaked")
    } finally signer.stop(0)
  }

  test("catalog chain runs under the reference's verbatim arg names " +
    "(county.yml:36-80)") {
    val root = tmpDir()
    val data = root.resolve("extract")
    import spark.implicits._
    Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "s")
      .write.parquet(data.toString)
    Files.writeString(root.resolve("county_urls.txt"),
      "https://example.invalid/tiger\nhttps://example.invalid/docs\n")
    val p = write(root, "chain.yml",
      s"""steps:
         |  - plugin: vector_facts
         |    output_var: vector_facts
         |    args:
         |      input_dir: "$data"
         |      output_dir: "{env.basedir}/facts"
         |  - plugin: ai_dataset_evidence_bundle
         |    output_var: evidence
         |    args:
         |      dataset_id: tiger_county
         |      input_path: "$data"
         |      vector_facts_json: "{vector_facts.vector_facts_json}"
         |      output_dir: "{env.basedir}/evidence"
         |      supplemental_urls_file: county_urls.txt
         |      notes: "boundary facts"
         |  - plugin: ai_dataset_research
         |    output_var: catalog_ai
         |    args:
         |      dataset_id: tiger_county
         |      data_class: vector
         |      title: "TIGER counties"
         |      artifact_uri: "$data"
         |      sample_file: "{evidence.sample_file}"
         |      schema_file: "{evidence.schema_file}"
         |      notes_file: "{evidence.notes_file}"
         |      supplemental_urls_file: "{evidence.supplemental_urls_file}"
         |      output_dir: "{env.basedir}/catalog_ai"
         |  - plugin: catalog_json_upsert
         |    args:
         |      research_file: "{catalog_ai.output_file}"
         |      catalog_json: "{env.basedir}/catalog.json"
         |      project_id: land_core
         |      source_step: 05_ai_research
         |  - plugin: catalog_yaml_sync
         |    args:
         |      dataset_id: tiger_county
         |      catalog_json: "{env.basedir}/catalog.json"
         |      catalog_repo: "{env.basedir}/catalog_repo"
         |      overwrite_managed_fields: false
         |""".stripMargin)
    val res = runner(root).runFile(p)
    assert(res.results.size == 5)
    assert(Files.exists(root.resolve("facts/vector_facts.json")))
    // the urls FILE's lines landed in the bundle
    assert(Files.readString(root.resolve("evidence/supplemental_urls.txt"))
      .contains("example.invalid/tiger"))
    val research = Files.readString(
      root.resolve("catalog_ai/research.md"))
    assert(research.contains("title: TIGER counties") &&
      research.contains("data_class: vector"), research)
    assert(Files.exists(root.resolve("catalog_repo/tiger_county.yml")))
  }

  test("publish_target: file:// copies, gdrive:// stages with manifest (S9)") {
    val root = tmpDir()
    Files.createDirectories(root.resolve("artifact"))
    Files.writeString(root.resolve("artifact/a.csv"), "x,y\n1,2\n")
    Files.writeString(root.resolve("artifact/b.csv"), "x,y\n3,4\n")
    // a quote in a filename must come out escaped in the manifest
    Files.writeString(root.resolve("artifact/we\"ird.csv"), "q\n")
    val p = write(root, "pub.yml",
      s"""vars:
         |  published_target_uri: "gdrive://data/etl/Tiger/States"
         |steps:
         |  - plugin: publish_target
         |    args:
         |      source: "{env.basedir}/artifact"
         |      target_uri: "file://$root/published_local"
         |  - plugin: publish_target
         |    args:
         |      source: "{env.basedir}/artifact"
         |      target_uri: "{published_target_uri}"
         |      publish_root: "$root/publish_root"
         |""".stripMargin)
    val res = runner(root).runFile(p)
    assert(res.results.head.fields("n_published") == 3)
    assert(Files.readString(root.resolve("published_local/a.csv"))
      .contains("1,2"))
    // remote scheme: staged mirror + manifest with hashes
    val staged = root.resolve("publish_root/gdrive/data/etl/Tiger/States")
    assert(Files.readString(staged.resolve("b.csv")).contains("3,4"))
    val manifest = Files.readString(staged.resolve("_manifest.json"))
    assert(manifest.contains("gdrive://data/etl/Tiger/States"))
    assert(manifest.contains("\"sha256\"") && manifest.contains("a.csv"))
    // the quoted filename is JSON-escaped, keeping the manifest valid
    assert(manifest.contains("we\\\"ird.csv"), manifest)
  }

  test("output_var fields feed later steps (tiger/county.yml:41-47)") {
    val root = tmpDir()
    val data = root.resolve("data.parquet")
    import spark.implicits._
    Seq((1L, "x"), (2L, "y")).toDF("id", "s")
      .write.parquet(data.toString)
    val p = write(root, "facts.yml",
      s"""steps:
         |  - name: facts
         |    plugin: vector_facts
         |    output_var: vector_facts
         |    args:
         |      path: "$data"
         |      output_path: "{env.basedir}/facts/facts.json"
         |  - plugin: write_file
         |    args:
         |      path: "{env.basedir}/facts/pointer.txt"
         |      content: "{vector_facts.vector_facts_json}"
         |""".stripMargin)
    runner(root).runFile(p)
    val pointer = Files.readString(root.resolve("facts/pointer.txt"))
    assert(pointer.endsWith("facts/facts.json"))
    assert(Files.readString(Paths.get(pointer)).contains("feature_count"))
  }

  test("catalog_json_upsert + catalog_yaml_sync keyed merge (county.yml:65-80)") {
    val root = tmpDir()
    val p = write(root, "cat.yml",
      s"""vars:
         |  catalog: "{env.basedir}/catalog.json"
         |steps:
         |  - plugin: catalog_json_upsert
         |    args:
         |      catalog_json: "{catalog}"
         |      dataset_id: raw.tiger_county_v1
         |      project_id: default
         |      source_step: "05_ai_research"
         |      record:
         |        dataset_title: "TIGER counties"
         |        data_class: RAW
         |  - plugin: catalog_yaml_sync
         |    args:
         |      catalog_json: "{catalog}"
         |      dataset_id: raw.tiger_county_v1
         |      target_dir: "{env.basedir}/catalog_repo"
         |      overwrite_managed_fields: false
         |""".stripMargin)
    runner(root).runFile(p)
    val cat = Files.readString(root.resolve("catalog.json"))
    assert(cat.contains("raw.tiger_county_v1") && cat.contains("TIGER counties"))
    val yml = Files.readString(
      root.resolve("catalog_repo/raw.tiger_county_v1.yml"))
    assert(yml.contains("dataset_title") && yml.contains("RAW"))
    // second upsert updates fields but keeps unlisted ones
    val p2 = write(root, "cat2.yml",
      s"""steps:
         |  - plugin: catalog_json_upsert
         |    args:
         |      catalog_json: "{env.basedir}/catalog.json"
         |      dataset_id: raw.tiger_county_v1
         |      record:
         |        dataset_notes: "updated"
         |""".stripMargin)
    runner(root).runFile(p2)
    val cat2 = Files.readString(root.resolve("catalog.json"))
    assert(cat2.contains("TIGER counties") && cat2.contains("updated"))
  }

  test("conditional_get refetches only when the source is newer (S1)") {
    val root = tmpDir()
    val src = root.resolve("fresh.txt")
    Files.writeString(src, "v1")
    val p = write(root, "cond.yml",
      s"""steps:
         |  - plugin: web_download_list
         |    args:
         |      url: "file://$src"
         |      out: "{env.basedir}/staged"
         |      conditional_get: true
         |""".stripMargin)
    val r = runner(root)
    assert(r.runFile(p).results.head.fields("n_fetched") == 1)
    // unchanged source -> not modified
    val second = r.runFile(p).results.head.fields
    assert(second("n_not_modified") == 1 && second("n_fetched") == 0)
    // touch the source newer -> refetched even though target exists
    Files.writeString(src, "v2")
    Files.setLastModifiedTime(src, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() + 5000))
    assert(r.runFile(p).results.head.fields("n_fetched") == 1)
    assert(Files.readString(root.resolve("staged/fresh.txt")) == "v2")
  }

  test("jdbc_write round-trips a keyed table through the embedded DB") {
    val root = tmpDir()
    val staged = root.resolve("in").toString
    import spark.implicits._
    Seq((1L, "alpha", 10.0), (2L, "beta", 20.0), (3L, "gamma", 30.0))
      .toDF("id", "name", "score").write.parquet(staged)
    val db = root.resolve("db/results")
    val p = write(root, "sink.yml",
      s"""steps:
         |  - plugin: jdbc_write
         |    args:
         |      input: "$staged"
         |      db_path: "$db"
         |      table: results
         |""".stripMargin)
    val r = runner(root)
    assert(r.runFile(p).results.head.fields("n_rows") == 3L)
    val url = s"jdbc:derby:$db"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val back = spark.read.jdbc(url, "results", props)
    assert(back.count() == 3)
    assert(back.filter($"id" === 2L).select("name").head().getString(0)
      == "beta")

    // upsert: key 2 re-scored, key 4 new; 1 and 3 survive untouched
    val staged2 = root.resolve("in2").toString
    Seq((2L, "beta", 99.0), (4L, "delta", 40.0))
      .toDF("id", "name", "score").write.parquet(staged2)
    val p2 = write(root, "upsert.yml",
      s"""steps:
         |  - plugin: jdbc_write
         |    args:
         |      input: "$staged2"
         |      db_path: "$db"
         |      table: results
         |      mode: upsert
         |      keys: [id]
         |""".stripMargin)
    assert(r.runFile(p2).results.head.fields("n_rows") == 4L)
    val merged = spark.read.jdbc(url, "results", props)
      .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    assert(merged == Map(1L -> 10.0, 2L -> 99.0, 3L -> 30.0, 4L -> 40.0))
  }

  test("text_cross_dedup drops near-verbatim matches of the reference " +
      "corpus and keeps the rest") {
    val root = tmpDir()
    import spark.implicits._
    val ref = root.resolve("ref").toString
    Seq((100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "pack my box with five dozen liquor jugs"))
      .toDF("doc_id", "text").write.parquet(ref)
    val corpus = root.resolve("new").toString
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),  // verbatim
      (2L, "the quick brown fox jumps over the lazy cat"),  // near-dup
      (3L, "completely unrelated fresh content here today"),
      (4L, "pack my box with five dozen liquor jugs"))      // verbatim
      .toDF("doc_id", "text").write.parquet(corpus)
    val p = write(root, "crossdedup.yml",
      s"""steps:
         |  - plugin: text_cross_dedup
         |    args:
         |      input: "$corpus"
         |      reference_input: "$ref"
         |      min_jaccard: 0.5
         |      matches_path: "$root/matches"
         |      output_path: "$root/clean"
         |""".stripMargin)
    val r = runner(root).runFile(p)
    val f = r.results.head.fields
    assert(f("n_in") == 4L)
    assert(f("n_matched").asInstanceOf[Long] >= 3L, f.toString) // 1,2,4
    val clean = spark.read.parquet(s"$root/clean")
      .select("doc_id").as[Long].collect().toSet
    assert(clean.contains(3L) && !clean.contains(1L) && !clean.contains(4L))
    // the audit names the right reference doc for the verbatim copies
    val m = spark.read.parquet(s"$root/matches")
      .select("doc_id", "ref_id").as[(Long, Long)].collect().toMap
    assert(m(1L) == 100L && m(4L) == 101L)
  }

  test("text_drift reports over-represented terms and per-source OOV") {
    val root = tmpDir()
    import spark.implicits._
    val ref = root.resolve("ref").toString
    Seq((100L, "srcA", "alpha beta gamma delta"),
      (101L, "srcA", "alpha beta epsilon zeta"))
      .toDF("doc_id", "source", "text").write.parquet(ref)
    val corpus = root.resolve("new").toString
    Seq((1L, "srcA", "alpha beta gamma delta"),
      (2L, "srcB", "nova nova nova quasar"),   // all-new vocabulary
      (3L, "srcA", "alpha epsilon zeta beta"))
      .toDF("doc_id", "source", "text").write.parquet(corpus)
    val p = write(root, "drift.yml",
      s"""steps:
         |  - plugin: text_drift
         |    args:
         |      input: "$corpus"
         |      reference_input: "$ref"
         |      top_k: 5
         |      oov_path: "$root/oov"
         |      output_path: "$root/drift"
         |""".stripMargin)
    val r = runner(root).runFile(p)
    val f = r.results.head.fields
    assert(f("n_terms") == 5L)
    // 'nova' (3 new occurrences, absent from ref) must rank first
    import org.apache.spark.sql.functions.col
    val top = spark.read.parquet(s"$root/drift")
      .orderBy(col("ratio").desc).select("term").head().getString(0)
    assert(top == "nova", s"top drifted term was $top")
    // srcB is 100% OOV, srcA fully covered
    val oov = spark.read.parquet(s"$root/oov")
      .select("source", "oov_rate").as[(String, Double)].collect().toMap
    assert(oov("srcB") == 1.0 && oov("srcA") == 0.0, oov.toString)
    assert(f("worst_oov_rate") == 1.0)
  }

  test("bloom_build + bloom_probe decontaminate through the DSL") {
    val root = tmpDir()
    import spark.implicits._
    val bench = root.resolve("bench").toString
    Seq((100L, "the quick brown fox"), (101L, "lorem ipsum dolor"))
      .toDF("doc_id", "text").write.parquet(bench)
    val corpus = root.resolve("corpus").toString
    Seq((1L, "the quick brown fox"), (2L, "completely novel text"),
      (3L, "lorem ipsum dolor"), (4L, "another clean document"))
      .toDF("doc_id", "text").write.parquet(corpus)
    val p = write(root, "bloom.yml",
      s"""steps:
         |  - plugin: bloom_build
         |    args:
         |      input: "$bench"
         |      output_path: "$root/filter"
         |    output_var: filt
         |  - plugin: bloom_probe
         |    args:
         |      input: "$corpus"
         |      filter_path: "{filt.output_path}"
         |      output_path: "$root/verdicts"
         |  - plugin: bloom_probe
         |    args:
         |      input: "$corpus"
         |      filter_path: "{filt.output_path}"
         |      drop_members: true
         |      output_path: "$root/clean"
         |""".stripMargin)
    val r = runner(root).runFile(p)
    assert(r.results(0).fields("n_bits").asInstanceOf[Long] <= 8L)
    // both benchmark texts flagged (no false negatives); the verdict
    // table covers the whole corpus
    assert(r.results(1).fields("n_rows") == 4L)
    assert(r.results(1).fields("n_flagged").asInstanceOf[Long] >= 2L)
    val clean = spark.read.parquet(s"$root/clean")
      .select("doc_id").as[Long].collect().toSet
    assert(!clean.contains(1L) && !clean.contains(3L))
    assert(clean.subsetOf(Set(2L, 4L)))
  }

  test("text_contamination_score grades overlap and cuts at the threshold") {
    val root = tmpDir()
    import spark.implicits._
    val bench = root.resolve("bench").toString
    Seq((100L, "one two three four five"))
      .toDF("doc_id", "text").write.parquet(bench)
    val corpus = root.resolve("corpus").toString
    Seq((1L, "one two three four five"),      // full copy -> 1.0
      (2L, "one two three nine ten"),         // partial
      (3L, "alpha beta gamma delta eps"))     // clean -> 0.0
      .toDF("doc_id", "text").write.parquet(corpus)
    val p = write(root, "score.yml",
      s"""steps:
         |  - plugin: text_contamination_score
         |    args:
         |      input: "$corpus"
         |      benchmark_input: "$bench"
         |      ngram: 2
         |      max_contamination: 0.5
         |      output_path: "$root/scores"
         |      clean_path: "$root/clean"
         |""".stripMargin)
    val r = runner(root).runFile(p)
    val f = r.results.head.fields
    assert(f("n_scored") == 3L && f("n_flagged") == 2L)
    val scores = spark.read.parquet(s"$root/scores")
      .collect().map(x => x.getLong(0) -> x.getDouble(3)).toMap
    assert(scores(1L) == 1.0 && scores(3L) == 0.0)
    assert(scores(2L) > 0.0 && scores(2L) < 1.0)
    // threshold 0.5 keeps the partial (2/4 grams = 0.5) and the clean doc
    val clean = spark.read.parquet(s"$root/clean")
      .select("doc_id").as[Long].collect().toSet
    assert(clean == Set(2L, 3L), s"got $clean with scores $scores")
  }

  test("conditional_get honors ETag when the server sends no mtime (S1)") {
    // a server that varies ONLY ETag (no Last-Modified): without
    // If-None-Match replay every re-run would re-download
    val served = new java.util.concurrent.atomic.AtomicReference("tag-v1")
    val hits = new AtomicInteger(0)
    val full = new AtomicInteger(0)
    val srv = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    srv.createContext("/data.txt", (ex: com.sun.net.httpserver.HttpExchange) => {
      hits.incrementAndGet()
      val tag = served.get()
      val sent = ex.getRequestHeaders.getFirst("If-None-Match")
      if (sent != null && sent == tag) {
        ex.sendResponseHeaders(304, -1)
      } else {
        full.incrementAndGet()
        val body = s"payload-$tag".getBytes
        ex.getResponseHeaders.set("ETag", tag)
        ex.sendResponseHeaders(200, body.length.toLong)
        ex.getResponseBody.write(body)
      }
      ex.close()
    })
    srv.start()
    try {
      val root = tmpDir()
      val p = write(root, "etag.yml",
        s"""steps:
           |  - plugin: web_download_list
           |    args:
           |      url: "http://127.0.0.1:${srv.getAddress.getPort}/data.txt"
           |      out: "{env.basedir}/staged"
           |      conditional_get: true
           |""".stripMargin)
      val r = runner(root)
      assert(r.runFile(p).results.head.fields("n_fetched") == 1)
      assert(Files.readString(root.resolve("staged/data.txt")) ==
        "payload-tag-v1")
      // unchanged tag -> 304 via If-None-Match, no re-download
      val second = r.runFile(p).results.head.fields
      assert(second("n_not_modified") == 1 && second("n_fetched") == 0)
      assert(full.get() == 1, s"expected one full download, got $full")
      // rotated tag -> refetched, sidecar updated
      served.set("tag-v2")
      assert(r.runFile(p).results.head.fields("n_fetched") == 1)
      assert(Files.readString(root.resolve("staged/data.txt")) ==
        "payload-tag-v2")
      assert(hits.get() == 3)
    } finally srv.stop(0)
  }

  test("archive_extract + gzip_extract round-trip with ** glob (S4/S5)") {
    val root = tmpDir()
    // build a zip and a gz under nested dirs
    val nested = root.resolve("archives/2020")
    Files.createDirectories(nested)
    val zipPath = nested.resolve("data.zip")
    val zos = new java.util.zip.ZipOutputStream(
      Files.newOutputStream(zipPath))
    zos.putNextEntry(new java.util.zip.ZipEntry("inner/a.txt"))
    zos.write("alpha".getBytes)
    zos.closeEntry(); zos.close()
    val gzPath = nested.resolve("t.txt.gz")
    val gzos = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(gzPath))
    gzos.write("zipped".getBytes); gzos.close()
    val p = write(root, "ex.yml",
      s"""steps:
         |  - plugin: archive_extract
         |    args:
         |      archive_glob: "$root/archives/**/*.zip"
         |      out: "{env.basedir}/extract"
         |  - plugin: gzip_extract
         |    args:
         |      archive: "$gzPath"
         |      out: "{env.basedir}/extract"
         |""".stripMargin)
    runner(root).runFile(p)
    assert(Files.readString(root.resolve("extract/inner/a.txt")) == "alpha")
    assert(Files.readString(root.resolve("extract/t.txt")) == "zipped")
  }

  test("retention: scratch output with no in-pipeline consumer drops at " +
    "end of run and tombstone-skips the re-run") {
    val root = tmpDir()
    import spark.implicits._
    val data = s"$root/docs"
    Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
      .write.parquet(data)
    val p = write(root, "scratch.yml",
      s"""steps:
         |  - plugin: sql_transform
         |    args:
         |      tables:
         |        d: "$data"
         |      query: "SELECT doc_id FROM d"
         |      output_path: "$root/ids.parquet"
         |    retention: scratch
         |  - plugin: count_runs
         |""".stripMargin)
    val r = runner(root)
    val res1 = r.runFile(p)
    assert(!res1.results(0).skipped)
    assert(!Files.exists(Paths.get(s"$root/ids.parquet")),
      "no-consumer scratch must be dropped after the run")
    assert(Files.exists(Paths.get(s"$root/ids.parquet.tombstone")))
    val res2 = r.runFile(p)
    assert(res2.results(0).skipped,
      "tombstone with no consumers must ledger-skip the producer")
  }

  test("a skipped step binds its output arguments when it has no commit " +
    "record (an output made outside the runner)") {
    val root = tmpDir()
    val made = root.resolve("made.csv")
    Files.writeString(made, "id\n1\n")
    val p = write(root, "replay.yml",
      s"""steps:
         |  - plugin: sql_transform
         |    args:
         |      query: "SELECT 1 AS id"
         |      output_path: "$made"
         |    output_var: made
         |  - plugin: echo
         |    args:
         |      message: "{made.output_path}"
         |""".stripMargin)
    val res = runner(root).runFile(p)
    assert(res.results(0).skipped)
    assert(res.results(1).fields("message") == made.toString)
  }

  // ---- commit records for table outputs (jdbc_write into a .duckdb) ----

  /** seed (overwrite) → an optional injected fault → upsert, all on one
    * DuckDB table. `fail`, `force_seed`, `seed_input` and
    * `changes_input` are vars a run overrides. */
  private def storePipeline(root: Path): (Path, Path) = {
    import spark.implicits._
    Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "score")
      .write.parquet(s"$root/seed.parquet")
    Seq((1L, 11.0), (5L, 50.0)).toDF("id", "score")
      .write.parquet(s"$root/seed2.parquet")
    Seq((2L, 99.0), (4L, 40.0)).toDF("id", "score")
      .write.parquet(s"$root/changes.parquet")
    Seq((3L, 33.0)).toDF("id", "score")
      .write.parquet(s"$root/changes2.parquet")
    val db = root.resolve("db/store.duckdb")
    val p = write(root, "store.yml",
      s"""vars:
         |  fail: "false"
         |  force_seed: "false"
         |  seed_input: "$root/seed.parquet"
         |  changes_input: "$root/changes.parquet"
         |steps:
         |  - plugin: jdbc_write
         |    args:
         |      input: "{seed_input}"
         |      db_path: "$db"
         |      table: scores
         |      overwrite: "{force_seed}"
         |  - plugin: fail_if
         |    args:
         |      fail: "{fail}"
         |  - plugin: jdbc_write
         |    args:
         |      input: "{changes_input}"
         |      db_path: "$db"
         |      table: scores
         |      mode: upsert
         |      keys: [id]
         |""".stripMargin)
    (p, db)
  }

  private def scores(db: Path, table: String = "scores"): Map[Long, Double] =
    graft.sources.DuckGate.withDuck {
      val con = java.sql.DriverManager.getConnection(s"jdbc:duckdb:$db")
      try {
        val st = con.createStatement()
        try {
          val rs = st.executeQuery(s"SELECT id, score FROM $table")
          val out = Iterator.continually(rs).takeWhile(_.next())
            .map(r => r.getLong(1) -> r.getDouble(2)).toMap
          rs.close()
          out
        } finally st.close()
      } finally con.close()
    }

  private val seeded =
    Map(1L -> 10.0, 2L -> 99.0, 3L -> 30.0, 4L -> 40.0)

  /** Which steps ran (not skipped), in order. */
  private def ran(res: PipelineRunner#RunResult): List[Boolean] =
    res.results.map(!_.skipped)

  test("ledger: a fault between seed and upsert re-runs only the upsert") {
    val root = tmpDir()
    val (p, db) = storePipeline(root)
    val r = runner(root)
    val err = intercept[IllegalStateException](
      r.runFile(p, Map("fail" -> "true")))
    assert(err.getMessage == "injected fault")
    assert(scores(db) == Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0))
    val again = r.runFile(p)
    assert(ran(again) == List(false, true, true))
    assert(scores(db) == seeded)
    // and now every write is committed
    assert(ran(r.runFile(p)) == List(false, true, false))
  }

  test("ledger: a deleted .duckdb file re-runs both writes in order") {
    val root = tmpDir()
    val (p, db) = storePipeline(root)
    val r = runner(root)
    assert(ran(r.runFile(p)) == List(true, true, true))
    assert(scores(db) == seeded)
    assert(ran(r.runFile(p)) == List(false, true, false))
    Files.delete(db)
    Files.deleteIfExists(Paths.get(s"$db.wal"))
    assert(ran(r.runFile(p)) == List(true, true, true))
    assert(scores(db) == seeded)
  }

  test("ledger: overwrite:true re-runs the seed and the upsert on top of it") {
    val root = tmpDir()
    val (p, db) = storePipeline(root)
    val r = runner(root)
    r.runFile(p)
    val forced = r.runFile(p, Map("force_seed" -> "true"))
    // the forced seed replaced the table, so the upsert's effect is gone
    // and its record with it: a skipped upsert would leave 2 -> 20.0
    assert(ran(forced) == List(true, true, true))
    assert(scores(db) == seeded)
    assert(ran(r.runFile(p)) == List(false, true, false))
  }

  test("ledger: a changed input re-runs the write (and the later upsert)") {
    val root = tmpDir()
    val (p, db) = storePipeline(root)
    val r = runner(root)
    r.runFile(p)
    val changed = r.runFile(p, Map("seed_input" -> s"$root/seed2.parquet"))
    assert(ran(changed) == List(true, true, true))
    assert(scores(db) == Map(1L -> 11.0, 5L -> 50.0, 2L -> 99.0, 4L -> 40.0))
  }

  test("ledger: a mode:append re-run does not append the rows again") {
    val root = tmpDir()
    import spark.implicits._
    Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "score")
      .write.parquet(s"$root/rows.parquet")
    val db = root.resolve("db/store.duckdb")
    val p = write(root, "append.yml",
      s"""steps:
         |  - plugin: jdbc_write
         |    args:
         |      input: "$root/rows.parquet"
         |      db_path: "$db"
         |      table: scores
         |      mode: append
         |    output_var: appended
         |  - plugin: echo
         |    args:
         |      message: "{appended.n_rows} rows into {appended.table}"
         |""".stripMargin)
    val r = runner(root)
    val cold = r.runFile(p)
    assert(cold.results(1).fields("message") == "3 rows into scores")
    val again = r.runFile(p)
    assert(again.results(0).skipped)
    assert(scores(db).size == 3)
    // the skipped write replays its recorded fields
    assert(again.results(1).fields("message") == "3 rows into scores")
  }

  test("ledger: a changed upsert input rebuilds the table from the seed") {
    val root = tmpDir()
    val (p, db) = storePipeline(root)
    val r = runner(root)
    r.runFile(p)
    assert(scores(db) == seeded)
    // applied on top of the skipped seed, the new changes would keep the
    // old changes' rows 2 -> 99.0 and 4 -> 40.0
    val changed = r.runFile(p, Map("changes_input" -> s"$root/changes2.parquet"))
    assert(ran(changed) == List(true, true, true))
    val cold = Map(1L -> 10.0, 2L -> 20.0, 3L -> 33.0)
    assert(scores(db) == cold)
    assert(ran(r.runFile(p, Map("changes_input" -> s"$root/changes2.parquet")))
      == List(false, true, false))
    assert(scores(db) == cold)
  }

  test("ledger: a deleted database file re-runs the writes of every table " +
    "in it") {
    val root = tmpDir()
    import spark.implicits._
    Seq((1L, 1.0)).toDF("id", "score").write.parquet(s"$root/a.parquet")
    Seq((2L, 2.0)).toDF("id", "score").write.parquet(s"$root/b.parquet")
    val db = root.resolve("db/two.duckdb")
    val p = write(root, "two.yml",
      s"""steps:
         |  - plugin: jdbc_write
         |    args: {input: "$root/a.parquet", db_path: "$db", table: ta}
         |  - plugin: jdbc_write
         |    args: {input: "$root/b.parquet", db_path: "$db", table: tb}
         |""".stripMargin)
    val r = runner(root)
    assert(ran(r.runFile(p)) == List(true, true))
    assert(ran(r.runFile(p)) == List(false, false))
    Files.delete(db)
    Files.deleteIfExists(Paths.get(s"$db.wal"))
    // ta's write recreates the file; tb's record must not vouch for it
    assert(ran(r.runFile(p)) == List(true, true))
    assert(scores(db, "ta") == Map(1L -> 1.0))
    assert(scores(db, "tb") == Map(2L -> 2.0))
  }

  test("ledger: an append whose input changed, with no replacing write to " +
    "rebuild its table, fails instead of appending on top") {
    val root = tmpDir()
    import spark.implicits._
    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "score")
      .write.parquet(s"$root/rows.parquet")
    Seq((3L, 3.0)).toDF("id", "score").write.parquet(s"$root/rows2.parquet")
    val db = root.resolve("db/log.duckdb")
    val p = write(root, "log.yml",
      s"""vars:
         |  rows: "$root/rows.parquet"
         |steps:
         |  - plugin: jdbc_write
         |    args: {input: "{rows}", db_path: "$db", table: scores, mode: append}
         |""".stripMargin)
    val r = runner(root)
    r.runFile(p)
    val changed = Map("rows" -> s"$root/rows2.parquet")
    val err = intercept[IllegalStateException](r.runFile(p, changed))
    assert(err.getMessage.contains("table scores"), err.getMessage)
    assert(scores(db).keySet == Set(1L, 2L))
    // still refused on the next run; a deleted file rebuilds it
    intercept[IllegalStateException](r.runFile(p, changed))
    Files.delete(db)
    Files.deleteIfExists(Paths.get(s"$db.wal"))
    assert(ran(r.runFile(p, changed)) == List(true))
    assert(scores(db) == Map(3L -> 3.0))
  }

  test("ledger: a write before a replacing write keeps its record, and a " +
    "changed one re-runs the replacing write after it") {
    val root = tmpDir()
    import spark.implicits._
    Seq((1L, 1.0)).toDF("id", "score").write.parquet(s"$root/early.parquet")
    Seq((7L, 7.0)).toDF("id", "score").write.parquet(s"$root/early2.parquet")
    Seq((2L, 2.0)).toDF("id", "score").write.parquet(s"$root/final.parquet")
    val db = root.resolve("db/order.duckdb")
    val p = write(root, "order.yml",
      s"""vars:
         |  early: "$root/early.parquet"
         |steps:
         |  - plugin: jdbc_write
         |    args: {input: "{early}", db_path: "$db", table: scores, mode: append}
         |  - plugin: jdbc_write
         |    args: {input: "$root/final.parquet", db_path: "$db", table: scores}
         |""".stripMargin)
    val r = runner(root)
    assert(ran(r.runFile(p)) == List(true, true))
    assert(ran(r.runFile(p)) == List(false, false))
    assert(scores(db) == Map(2L -> 2.0))
    val changed = r.runFile(p, Map("early" -> s"$root/early2.parquet"))
    assert(ran(changed) == List(true, true))
    assert(scores(db) == Map(2L -> 2.0))
  }

  test("ledger: replayed output_var fields keep the classes of the cold " +
    "run's fields") {
    val root = tmpDir()
    val p = write(root, "typed.yml",
      s"""steps:
         |  - plugin: typed_fields
         |    args:
         |      output_path: "$root/out/typed.txt"
         |""".stripMargin)
    val r = runner(root)
    val cold = r.runFile(p).results.head
    val again = r.runFile(p).results.head
    assert(!cold.skipped && again.skipped)
    assert(again.fields.keySet == cold.fields.keySet)
    def shape(v: Any): Any = v match {
      case null => "null"
      case d: Double if d.isNaN => "NaN"
      case m: Map[_, _] => m.map { case (k, x) => k -> shape(x) }
      case l: Seq[_] => l.map(shape)
      case x => (x, x.getClass)
    }
    cold.fields.foreach { case (k, v) =>
      assert(shape(again.fields(k)) == shape(v), k)
    }
  }

  test("ledger: commit records stay out of published directories and " +
    "file listings") {
    val root = tmpDir()
    val p = write(root, "records.yml",
      s"""steps:
         |  - plugin: typed_fields
         |    args:
         |      output_path: "$root/out/typed.txt"
         |  - plugin: publish_target
         |    args:
         |      source: "$root/out"
         |      target_uri: "gdrive://data/etl/typed"
         |      publish_root: "$root/publish_root"
         |  - plugin: ftp_download_tree
         |    args:
         |      url: "file://$root/out"
         |      out: "$root/mirror"
         |""".stripMargin)
    runner(root).runFile(p)
    assert(Files.exists(root.resolve("out/.typed.txt.commit")))
    def names(d: Path): Set[String] = {
      val s = Files.list(d)
      try s.iterator().asScala.map(_.getFileName.toString).toSet
      finally s.close()
    }
    val staged = root.resolve("publish_root/gdrive/data/etl/typed")
    assert(names(staged) == Set("typed.txt", "_manifest.json"))
    assert(!Files.readString(staged.resolve("_manifest.json")).contains("commit"))
    assert(names(root.resolve("mirror")) == Set("typed.txt"))
  }
}
