package graft.runner.plugins

import java.io.{FileOutputStream, InputStream}
import java.net.URI
import java.nio.file.{FileSystems, Files, Path, Paths, StandardCopyOption}
import java.util.zip.{GZIPInputStream, ZipInputStream}

import scala.jdk.CollectionConverters._

import graft.runner._

/** `echo` / `echo.py` — smoke no-op with optional message
  * (/root/reference/pipelines/sample.yml:7, sample_mutlisteps.yml:10-21). */
object EchoPlugin extends StepPlugin {
  val name = "echo"
  def run(ctx: StepContext): StepResult = {
    val msg = ctx.argOpt("message").map(_.toString).getOrElse("")
    if (msg.nonEmpty) println(s"[echo] $msg")
    StepResult(Map("message" -> msg))
  }
}

/** `exec_script.py` — run an arbitrary script with env passthrough
  * (/root/reference/pipelines/testdb.yml:8-10). The engine's escape
  * hatch; exit code surfaces as a field, non-zero raises. */
object ExecScriptPlugin extends StepPlugin {
  val name = "exec_script"
  def run(ctx: StepContext): StepResult = {
    import scala.sys.process._
    val script = ctx.argStr("script")
    val extraEnv = ctx.argOpt("env").map {
      case m: Map[_, _] => m.map { case (k, v) => (k.toString, v.toString) }.toSeq
      case _ => Seq.empty
    }.getOrElse(Seq.empty)
    val code = Process(Seq("/bin/sh", "-c", script), None, extraEnv: _*).!
    if (code != 0)
      throw new RuntimeException(s"exec_script failed with exit code $code")
    StepResult(Map("exit_code" -> code))
  }
}

/** `pipeline_execute.py` — run another pipeline as a step, with
  * `vars_kv` overrides and `mode: synchronized | async`
  * (/root/reference/pipelines/prism/county_daily_aggregate_parent.yml:14-22
  * pins `synchronized`, which implies the async alternative).
  * Combined with `foreach` + `parallel_with`, the runner gives parallel
  * parameterized sub-runs. `synchronized` (default) blocks until the
  * child completes; `async` returns a handle immediately — the runner
  * awaits and merges every async child at the END of the invoking
  * pipeline, so later steps overlap with the child but the run itself
  * never completes before its children do.
  */
object PipelineExecutePlugin extends StepPlugin {
  val name = "pipeline_execute"
  def run(ctx: StepContext): StepResult = {
    val path = ctx.argStr("pipeline_path")
    val overrides = ctx.argOpt("vars_kv").map(kv => parseVarsKv(kv.toString))
      .getOrElse(Map.empty[String, Any])
    ctx.argOpt("mode").map(_.toString).getOrElse("synchronized") match {
      case "async" =>
        // carry the requires-resolution chain onto the async thread so a
        // dependency cycle through this child still fails fast instead
        // of deadlocking on the in-flight latch
        val chain = ctx.runner.capturedChain
        ctx.async.submit(path) {
          ctx.runner.withChain(chain) {
            val r = ctx.runner.runRelative(path, ctx.currentPipeline, overrides)
            StepResult(Map("pipeline" -> path, "n_steps" -> r.results.size))
          }
        }
        StepResult(Map("pipeline" -> path, "mode" -> "async"))
      case _ =>
        val result = ctx.runner.runRelative(path, ctx.currentPipeline, overrides)
        StepResult(Map("pipeline" -> path, "n_steps" -> result.results.size))
    }
  }

  /** `vars_kv: "year=2024"` — values arrive already interpolated; scalars
    * re-typed so the child sees `year: 2024` (int), matching the child's
    * own `vars` typing (county_daily_aggregate_child.yml:5). */
  def parseVarsKv(kv: String): Map[String, Any] =
    kv.split(",").filter(_.nonEmpty).map { pair =>
      val Array(k, v) = pair.split("=", 2)
      k.trim -> retype(v.trim)
    }.toMap

  private def retype(s: String): Any =
    if (s.matches("-?\\d+")) s.toInt
    else if (s.matches("-?\\d*\\.\\d+")) s.toDouble
    else if (s == "true" || s == "false") s.toBoolean
    else s
}

/** `web_download_list` — HTTP(S)/file staging of a url, a url list, or a
  * `urls_file`; idempotent via `overwrite: false`, freshness via
  * `conditional_get` (If-Modified-Since)
  * (/root/reference/pipelines/cdl/download-national-30m-2008-2025.yml:17-26,
  * pipelines/tiger/county.yml:21-28 urls_file form).
  * `file://` URLs stage by copy, keeping tests network-free.
  */
object WebDownloadPlugin extends StepPlugin {
  val name = "web_download_list"
  def run(ctx: StepContext): StepResult = {
    val out = Paths.get(ctx.argStr("out"))
    Files.createDirectories(out)
    val urls: Seq[String] = ctx.argOpt("url").map(u => Seq(u.toString))
      .orElse(ctx.argOpt("urls").map {
        case l: Seq[_] => l.map(_.toString)
        case s => Seq(s.toString)
      })
      .orElse(ctx.argOpt("urls_file").map { f =>
        // checkout-relative like every reference file arg
        // (`urls_file: pipelines/tiger/county_urls.txt`,
        // /root/reference/pipelines/tiger/county.yml:23): resolve
        // sibling-of-pipeline first, then asset roots — same contract
        // as EvidenceBundlePlugin's supplemental_urls_file
        val p = ctx.runner.resolvePath(Paths.get(f.toString),
          ctx.currentPipeline.map(Paths.get(_)))
        Files.readAllLines(p).asScala.toSeq
          .map(_.trim).filter(_.nonEmpty)
      })
      .getOrElse(throw new IllegalArgumentException(
        "web_download_list needs url/urls/urls_file"))
    val timeoutMs = ctx.argInt("timeout_seconds", 180) * 1000
    // `conditional_get: true` = refresh only when the remote changed
    // (If-Modified-Since / 304 —
    // /root/reference/pipelines/cdl/download-national-30m-2008-2025.yml:23).
    // Distinct from `overwrite`: overwrite=false never re-checks;
    // conditional_get re-checks freshness even when the file exists.
    val conditional = ctx.argBool("conditional_get", default = false)
    var fetched, skipped, notModified = 0
    urls.foreach { u =>
      val fname = u.split('/').last
      val target = out.resolve(fname)
      if (!conditional && !Ledger.shouldWrite(target, ctx.overwrite))
        skipped += 1
      else fetch(u, target, timeoutMs, conditional) match {
        case Fetched => fetched += 1
        case NotModified => notModified += 1
      }
    }
    StepResult(Map("n_urls" -> urls.size, "n_fetched" -> fetched,
      "n_skipped" -> skipped, "n_not_modified" -> notModified,
      "out" -> out.toString))
  }

  private sealed trait FetchOutcome
  private case object Fetched extends FetchOutcome
  private case object NotModified extends FetchOutcome

  /** Hidden per-target validator file (`.name.etag`) next to the staged
    * file — survives re-runs, never collides with downloaded names. */
  private def etagSidecar(target: Path): Path =
    target.resolveSibling("." + target.getFileName.toString + ".etag")

  private def fetch(url: String, target: Path, timeoutMs: Int,
                    conditional: Boolean): FetchOutcome = {
    val uri = URI.create(url)
    if (uri.getScheme == "file") {
      val src = Paths.get(uri)
      if (conditional && Files.exists(target) &&
        !Files.getLastModifiedTime(src)
          .toInstant.isAfter(Files.getLastModifiedTime(target).toInstant))
        return NotModified
      Files.copy(src, target, StandardCopyOption.REPLACE_EXISTING)
      Fetched
    } else try {
      val conn = uri.toURL.openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      conn.setConnectTimeout(timeoutMs)
      conn.setReadTimeout(timeoutMs)
      // freshness is two-channel, matching the reference contract
      // (/root/reference/pipelines/cdl/download-national-30m-2008-2025.yml:23):
      // If-Modified-Since from the staged file's mtime AND If-None-Match
      // from the validator the server sent last time (sidecar — servers
      // that vary only ETag would otherwise re-download every run)
      val etagFile = etagSidecar(target)
      if (conditional && Files.exists(target)) {
        conn.setIfModifiedSince(Files.getLastModifiedTime(target).toMillis)
        if (Files.exists(etagFile))
          conn.setRequestProperty("If-None-Match",
            Files.readString(etagFile).trim)
      }
      if (conn.getResponseCode == 304) { conn.disconnect(); NotModified }
      else {
        val in = conn.getInputStream
        try Files.copy(in, target, StandardCopyOption.REPLACE_EXISTING)
        finally in.close()
        Option(conn.getHeaderField("ETag")) match {
          case Some(tag) => Files.writeString(etagFile, tag)
          case None => Files.deleteIfExists(etagFile) // stale validator
        }
        Fetched
      }
    } catch {
      // OFFLINE GRACE, conditional fetches only: a freshness re-check
      // (If-Modified-Since probe) that cannot REACH the origin keeps
      // the staged copy — equivalent to a 304 — instead of failing an
      // otherwise-idempotent pipeline over a dead link. Scoped tight:
      // only when the staged file exists AND the step asked for a
      // conditional re-check; a never-staged target still fails, and a
      // forced re-download (overwrite: true, conditional: false) still
      // fails — the caller explicitly demanded fresh bytes.
      case _: java.io.IOException if conditional && Files.exists(target) =>
        NotModified
    }
  }
}

/** `ftp_download_tree` — recursive mirror with `filename_glob`
  * (/root/reference/pipelines/prism/download-ts-ppt-day.yml:17-27).
  *
  * `file://` trees mirror via `Files.walk`. Remote (`ftp://`) trees walk
  * through a [[RemoteTreeWalker.Lister]]: list a directory URL, recurse
  * into entries that themselves list (try-descend — the portable
  * strategy when LIST output formats vary), fetch leaf files matching
  * the glob. The default lister reads the JDK ftp URL handler's
  * directory listing (one name per line); the SPI keeps the WALK logic
  * — recursion, glob filtering, ledger idempotence, relative layout —
  * fully unit-testable without a network (RunnerSpec drives it with an
  * in-memory lister over a local tree).
  */
class RemoteTreeWalker(lister: RemoteTreeWalker.Lister,
                       fetch: (String, Path) => Unit,
                       fetchTimed: Option[(String, Path, Int) => Unit] = None)
  extends StepPlugin {
  val name = "ftp_download_tree"

  def run(ctx: StepContext): StepResult = {
    val url = ctx.argStr("url")
    val out = Paths.get(ctx.argStr("out"))
    val glob = ctx.argOpt("filename_glob").map(_.toString).getOrElse("*")
    val recursive = ctx.argBool("recursive", default = true)
    // reference contract: per-step network timeout
    // (/root/reference/pipelines/prism/download-ts-ppt-day.yml:25)
    val timeoutMs = ctx.argInt("timeout_seconds", 120) * 1000
    val doFetch: (String, Path) => Unit = fetchTimed match {
      case Some(ft) => (u, t) => ft(u, t, timeoutMs)
      case None => fetch
    }
    Files.createDirectories(out)
    val matcher = FileSystems.getDefault.getPathMatcher(s"glob:$glob")
    val uri = URI.create(url)
    var fetched, skipped, offlineKept = 0

    def stage(sourceUrl: String, rel: String): Unit = {
      val target = out.resolve(rel).normalize
      // path-traversal guard: a hostile/misbehaving server listing
      // "../../x" must not escape the mirror root (same contract as
      // ArchiveExtractPlugin's zip-slip check)
      require(target.startsWith(out), s"tree-walk slip blocked: $rel")
      Files.createDirectories(
        Option(target.getParent).getOrElse(out))
      if (!Ledger.shouldWrite(target, ctx.overwrite)) skipped += 1
      else try { doFetch(sourceUrl, target); fetched += 1 }
      catch {
        // OFFLINE GRACE: a mirror pass that cannot reach the origin
        // keeps an already-staged tree (the overwrite:false
        // idempotence contract) instead of failing the pipeline.
        // Scoped tight: only under overwrite:false AND a non-empty
        // mirror dir — an EMPTY mirror has nothing staged to keep and
        // still fails. Counted separately (n_offline_kept) so a run
        // that degraded this way is visible in the step result. A
        // failed partial target is removed — a 0-byte file would read
        // as materialized on the next run.
        case _: java.io.IOException
            if !ctx.overwrite && Ledger.materialized(out) =>
          Files.deleteIfExists(target)
          offlineKept += 1
      }
    }

    if (uri.getScheme == "file") {
      val root = Paths.get(uri)
      val stream = if (recursive) Files.walk(root) else Files.list(root)
      try {
        stream.iterator().asScala
          .filter(p => Files.isRegularFile(p) && !Ledger.isRecord(p) &&
            matcher.matches(p.getFileName))
          .foreach(p => stage(p.toUri.toString, root.relativize(p).toString))
      } finally stream.close()
    } else lister.list(url) match {
      case Some(rootEntries) => // directory URL: recursive walk
        // each directory is listed exactly ONCE — the probe that
        // classifies an entry as a directory returns the listing that
        // the recursion then consumes. A visited-URL set plus a depth
        // cap guard against pathological/hostile listings (self or
        // mutual references would otherwise loop forever).
        val maxDepth = ctx.argOpt("max_depth")
          .map(_.toString.toInt).getOrElse(64)
        val visited = scala.collection.mutable.Set[String]()
        def walk(dirUrl: String, relPrefix: String,
                 entries: Seq[String], depth: Int): Unit = {
          require(depth <= maxDepth,
            s"tree walk deeper than max_depth=$maxDepth at $dirUrl — " +
              "cycle-shaped listing? raise max_depth if genuine")
          entries.foreach { name =>
            val clean = name.stripSuffix("/")
            val childUrl = dirUrl.stripSuffix("/") + "/" + clean
            val childRel =
              if (relPrefix.isEmpty) clean else s"$relPrefix/$clean"
            def stageFile(): Unit =
              if (matcher.matches(Paths.get(clean).getFileName))
                stage(childUrl, childRel)
            def descend(es: Seq[String]): Unit =
              walk(childUrl, childRel, es, depth + 1)
            if (!visited.add(childUrl)) ()
            else if (name.endsWith("/")) {
              // the parent listing marked it a directory — trust that
              if (recursive) lister.list(childUrl).foreach(descend)
            } else if (recursive) lister.list(childUrl) match {
              // NLST on a FILE answers with the file's own name on many
              // servers — a single self-entry USUALLY means "file"…
              case Some(es) if es.isEmpty => () // empty directory
              case Some(es) if es != Seq(clean) => descend(es)
              case Some(es) =>
                // …but a real directory holding exactly one child with
                // the directory's own name lists the same way. One
                // grandchild probe settles it: a directory's same-named
                // child lists NONEMPTY (its own NLST echo at minimum),
                // while a file's bogus "child" URL either fails (None)
                // or — on lenient servers that answer nonexistent paths
                // with an empty 226 — lists empty. Either way empty ⇒
                // file, so the artifact is staged, never dropped.
                if (lister.list(childUrl + "/" + clean).exists(_.nonEmpty))
                  descend(es)
                else stageFile()
              case _ => stageFile()
            } else stageFile()
          }
        }
        walk(url, "", rootEntries, depth = 1)
      case None => // single remote file
        stage(url, url.split('/').last)
    }
    StepResult(Map("n_fetched" -> fetched, "n_skipped" -> skipped,
      "n_offline_kept" -> offlineKept, "out" -> out.toString))
  }
}

object RemoteTreeWalker {
  /** Directory listing provider: Some(entries) when `url` is a listable
    * directory (names, dirs marked with a trailing "/" when the server
    * says so), None when it is a file (or listing fails). */
  trait Lister { def list(url: String): Option[Seq[String]] }

  /** JDK ftp URL handler: opening a directory URL (trailing slash)
    * streams its listing one name per line. A read failure or an entry
    * that streams bytes instead of names means "file". */
  object JdkFtpLister extends Lister {
    def list(url: String): Option[Seq[String]] =
      try {
        val in = URI.create(url.stripSuffix("/") + "/;type=d").toURL
          .openStream()
        try {
          val names = new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8)
            .split("\r?\n").map(_.trim).filter(_.nonEmpty).toSeq
          Some(names)
        } finally in.close()
      } catch { case _: Exception => None }
  }

  def jdkFetch(url: String, target: Path): Unit =
    jdkFetchTimed(url, target, 120 * 1000)

  /** URL fetch with connect/read timeouts — `timeout_seconds` is part
    * of the reference's download contract (a hung FTP data channel must
    * fail the step, not the whole run's wall clock). */
  def jdkFetchTimed(url: String, target: Path, timeoutMs: Int): Unit = {
    val conn = URI.create(url).toURL.openConnection()
    conn.setConnectTimeout(timeoutMs)
    conn.setReadTimeout(timeoutMs)
    val in = conn.getInputStream
    try Files.copy(in, target, StandardCopyOption.REPLACE_EXISTING)
    finally in.close()
  }
}

/** Default instance: JDK ftp listing + timed URL fetch. */
object FtpDownloadTreePlugin extends RemoteTreeWalker(
  RemoteTreeWalker.JdkFtpLister, RemoteTreeWalker.jdkFetch,
  fetchTimed = Some(RemoteTreeWalker.jdkFetchTimed))

/** `archive_extract` — unzip one archive or a (recursive `**`) glob
  * (/root/reference/pipelines/cdl/download-national-30m-2008-2025.yml:27-34;
  * glob form pipelines/prism/download-ts-ppt-day.yml:28-35). */
object ArchiveExtractPlugin extends StepPlugin {
  val name = "archive_extract"
  def run(ctx: StepContext): StepResult = {
    val out = Paths.get(ctx.argStr("out"))
    Files.createDirectories(out)
    val archives: Seq[Path] = ctx.argOpt("archive") match {
      case Some(a) => Seq(Paths.get(a.toString))
      case None =>
        val glob = ctx.argStr("archive_glob")
        globPaths(glob)
    }
    var extracted, skipped = 0
    archives.foreach { a =>
      val marker = out.resolve(s".extracted_${a.getFileName}")
      if (!Ledger.shouldWrite(marker, ctx.overwrite)) skipped += 1
      else {
        unzip(a, out)
        Files.writeString(marker, a.toString)
        extracted += 1
      }
    }
    StepResult(Map("n_archives" -> archives.size, "n_extracted" -> extracted,
      "n_skipped" -> skipped, "out" -> out.toString))
  }

  /** Expand a glob that may contain `**` (walk from the fixed prefix). */
  def globPaths(glob: String): Seq[Path] = {
    val firstMeta = glob.indexWhere(c => c == '*' || c == '?' || c == '[')
    if (firstMeta < 0) return Seq(Paths.get(glob)).filter(Files.exists(_))
    val lastSep = glob.lastIndexOf('/', firstMeta)
    val root = Paths.get(if (lastSep <= 0) "/" else glob.substring(0, lastSep))
    if (!Files.exists(root)) return Seq.empty
    val matcher = FileSystems.getDefault.getPathMatcher(s"glob:$glob")
    val stream = Files.walk(root)
    try stream.iterator().asScala
      .filter(p => Files.isRegularFile(p) && !Ledger.isRecord(p) &&
        matcher.matches(p))
      .toSeq.sortBy(_.toString)
    finally stream.close()
  }

  private def unzip(archive: Path, out: Path): Unit = {
    val zin = new ZipInputStream(Files.newInputStream(archive))
    try {
      var e = zin.getNextEntry
      while (e != null) {
        val target = out.resolve(e.getName).normalize
        require(target.startsWith(out), s"zip slip blocked: ${e.getName}")
        if (e.isDirectory) Files.createDirectories(target)
        else {
          Files.createDirectories(target.getParent)
          copyStream(zin, target)
        }
        zin.closeEntry()
        e = zin.getNextEntry
      }
    } finally zin.close()
  }

  private def copyStream(in: InputStream, target: Path): Unit = {
    val os = new FileOutputStream(target.toFile)
    try in.transferTo(os) finally os.close()
  }
}

/** `gzip_extract` — gunzip a single file into a directory
  * (/root/reference/pipelines/usda_nass/download-quickstats-crops-census-and-crop-progress.yml:39-45).
  * Kept for DSL parity; Spark reads `.gz` text natively so migrated
  * pipelines drop this step entirely (SURVEY §2.1 S5). */
object GzipExtractPlugin extends StepPlugin {
  val name = "gzip_extract"
  def run(ctx: StepContext): StepResult = {
    val src = Paths.get(ctx.argStr("archive"))
    val out = Paths.get(ctx.argStr("out"))
    Files.createDirectories(out)
    val target = out.resolve(src.getFileName.toString.stripSuffix(".gz"))
    if (!Ledger.shouldWrite(target, ctx.overwrite))
      StepResult(Map("out" -> target.toString), skipped = true)
    else {
      val in = new GZIPInputStream(Files.newInputStream(src))
      try Files.copy(in, target, StandardCopyOption.REPLACE_EXISTING)
      finally in.close()
      StepResult(Map("out" -> target.toString))
    }
  }
}

/** `combine_files.py` — schema-aligned union of a CSV glob into ONE
  * output file (/root/reference/pipelines/prism/county_daily_aggregate.yml:38-44).
  * Spark form: read glob → `coalesce(1)` write → move the single part
  * file to `output_file`. The coalesce serializes only the final write of
  * an already-aggregated (small) result — the upstream computation keeps
  * full parallelism.
  */
object CombineFilesPlugin extends StepPlugin {
  val name = "combine_files"
  def run(ctx: StepContext): StepResult = {
    val glob = ctx.argStr("input_glob")
    val outFile = Paths.get(ctx.argStr("output_file"))
    if (!Ledger.shouldWrite(outFile, ctx.overwrite))
      return StepResult(Map("output_file" -> outFile.toString), skipped = true)
    val spark = ctx.spark
    // explicit `format` (the reference passes it —
    // /root/reference/pipelines/prism/county_daily_aggregate_child.yml
    // combine form) falls back to the output extension, then csv
    val fmt = ctx.argOpt("format").map(_.toString.toLowerCase)
      .orElse(graft.sources.Formats.infer(outFile.toString))
      .getOrElse("csv")
    val df = fmt match {
      case "csv" => spark.read.option("header", "true").csv(glob)
      case "tsv" => spark.read.option("header", "true")
        .option("sep", "\t").csv(glob)
      case "jsonl" | "json" => spark.read.json(glob)
      case "parquet" => spark.read.parquet(glob)
      case other => throw new IllegalArgumentException(
        s"combine_files format must be csv|tsv|jsonl|parquet, got '$other'")
    }
    val tmp = Files.createTempDirectory("combine_files")
    val tmpOut = tmp.resolve("out")
    val w = df.coalesce(1).write
    fmt match {
      case "csv" => w.option("header", "true").csv(tmpOut.toString)
      case "tsv" => w.option("header", "true").option("sep", "\t")
        .csv(tmpOut.toString)
      case "jsonl" | "json" => w.json(tmpOut.toString)
      case "parquet" => w.parquet(tmpOut.toString)
    }
    val part = Files.list(tmpOut).iterator().asScala
      .find(_.getFileName.toString.startsWith("part-"))
      .getOrElse(throw new IllegalStateException("no part file written"))
    Files.createDirectories(outFile.getParent)
    Files.move(part, outFile, StandardCopyOption.REPLACE_EXISTING)
    StepResult(Map("output_file" -> outFile.toString,
      "n_rows" -> df.count()))
  }
}
