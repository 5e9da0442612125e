package graft.runner

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.MinJson
import graft.spec.{Interpolator, Pipeline, Scope}

/** Materialization ledger (SURVEY §4): the engine-level form of the
  * reference's skip-if-exists idiom — `overwrite: false` on nearly every
  * step (e.g. /root/reference/pipelines/cdl/download-national-30m-2008-2025.yml:22,
  * pipelines/prism/stage-ts-ppt-day-mi-rollsum-14d.yml:31) gives
  * coarse-grained memoization / incremental re-runs across runs.
  *
  * Checks are O(listing), never O(data): existence (+ non-emptiness for
  * directories) and small records only. Content-hash validation of the
  * data is deliberately absent — the reference trusts presence, and at
  * 100 TB so must we.
  *
  * '''Declared outputs.''' A step invocation declares a file output per
  * `output_path`/`output_file` argument, and a table output when it
  * names `db_path` + `table` (`jdbc_write`).
  *
  * '''Commit records.''' After a step invocation returns (one per
  * foreach item), the runner writes a commit record next to each
  * declared output: `.<name>.commit` beside a file output, and
  * `.<db file>.<table>.<step key>.commit` beside a table's database
  * file, where the step key hashes the pipeline, the step's index and
  * the foreach item. The leading dot keeps records out of Spark's file
  * index and out of globs like `month_*.csv`; plugins that list or
  * publish a directory skip them too ([[isRecord]]). A record is written
  * to a temp file and renamed into place, so it is either whole or
  * absent. It holds a hash of the invocation's resolved arguments
  * (`overwrite` excluded), the writing step, a per-table commit
  * sequence number and the step's result fields. A step deletes its own
  * records before it runs, so a crash mid-write never leaves a record
  * behind.
  *
  * '''Skip evidence.''' A step skips when it is not forced
  * (`overwrite: true` always runs it) and every declared output is done:
  *  - a file output when it is present ([[materialized]]), or
  *    tombstoned under [[Retention]]'s rule — presence, not the record,
  *    as the reference does;
  *  - a table output when the database file exists and this step's
  *    record for the table matches the resolved arguments (a changed
  *    `input` re-runs the write), unless [[TablePlan]] asks a replacing
  *    write to re-run. No database query is made.
  * Steps with no declared output (`out`/`output_dir` directories,
  * `echo`, `publish_target`) always run; those plugins skip per file
  * via [[shouldWrite]], matching the reference's per-download
  * `overwrite: false` semantics.
  *
  * '''Table writes.''' The writes to one table form a chain: a
  * replacing write (`mode: overwrite`, the default) and the
  * `append`/`upsert` writes after it. A re-run must leave the table as a
  * cold run would, so it never applies a write on top of an effect that
  * comes after it in the chain, or on top of its own earlier effect:
  *  - A write that runs deletes the records of the writes after it: in
  *    its pipeline, those of later steps; from other pipelines, those
  *    committed after its own previous commit (all of them, for a
  *    replacing write with no previous commit). They re-run after it.
  *  - Before the first step, [[tablePlan]] finds each `append`/`upsert`
  *    that will run while its own earlier effect, or that of a write
  *    after it, is in the table, and re-runs the replacing write before
  *    it, which clears those records. A changed upsert therefore
  *    rebuilds the table from its seed.
  *  - An `append`/`upsert` that still finds such an effect when it
  *    starts (its table has no replacing write in this pipeline, or its
  *    arguments resolve only at run time) fails, naming the table, and
  *    drops the records of the table's other writes, so a replacing
  *    write in another pipeline re-runs next time. `overwrite: true`
  *    runs it anyway.
  *  - A write that finds its database file missing first deletes every
  *    record of every table beside that file: a new file holds none of
  *    them. A deleted database file therefore re-runs every write into
  *    it, in order.
  *
  * '''Replay.''' A skipped step binds its `output_var` to the fields of
  * its matching record, so `{step.output_path}` and counts resolve on a
  * re-run exactly as on the cold run, with the same classes (Int stays
  * Int, Long stays Long; a value of a class outside the JSON-like ones
  * comes back as its string). Without a matching record (an output made
  * outside the runner, or by a run with other arguments) it binds the
  * resolved output arguments themselves.
  */
object Ledger {

  /** Should this output be (re)produced? false ⇒ skip, it's materialized. */
  def shouldWrite(output: Path, overwrite: Boolean): Boolean =
    overwrite || !materialized(output)

  def materialized(output: Path): Boolean =
    Files.exists(output) && (!Files.isDirectory(output) || nonEmptyDir(output))

  private def nonEmptyDir(dir: Path): Boolean = {
    val s = Files.list(dir)
    try s.findFirst().isPresent finally s.close()
  }

  sealed trait Output
  /** A single file or dataset directory (`output_path`/`output_file`). */
  final case class FileOutput(path: Path) extends Output
  /** A table of an embedded database file or directory (`db_path`). */
  final case class TableOutput(db: Path, table: String) extends Output

  private[runner] val fileKeys = Seq("output_path", "output_file")

  /** The PRECISE single-file/single-dataset outputs a step declares —
    * `output_path`/`output_file` (SURVEY §2.1/2.2 arg tables). `out`
    * directories are deliberately NOT step-skippable: they receive many
    * files (downloads, extracts) and a non-empty dir says nothing about
    * completeness. */
  def fileOutputs(args: Map[String, Any]): Seq[Path] =
    fileKeys.flatMap(args.get).map(v => Paths.get(v.toString))

  def declaredOutputs(args: Map[String, Any]): Seq[Output] =
    fileOutputs(args).map(FileOutput) ++
      (for (db <- args.get("db_path"); t <- args.get("table"))
        yield TableOutput(Paths.get(db.toString), t.toString))

  /** A commit record, or a commit record's temp file. Plugins that list
    * or publish a directory leave these out. */
  def isRecord(p: Path): Boolean =
    RecordName.matches(p.getFileName.toString)
  private val RecordName = """\..+\.commit(\.[0-9a-f-]{36}\.tmp)?""".r

  /** Is `args` a write that replaces its table (`mode: overwrite`, the
    * default) rather than adding to it (`append`, `upsert`)? */
  private def replacing(args: Map[String, Any]): Boolean =
    !args.get("mode").map(_.toString).exists(m => m == "append" || m == "upsert")

  /** A commit record as read back: the hash of the resolved arguments,
    * the writing step (pipeline key and step index), the per-table
    * commit sequence number and the step's result fields. */
  private final case class Record(args: String, pipeline: String,
                                  step: Int, seq: Long,
                                  fields: Map[String, Any])

  /** Result fields are stored type-tagged, `[tag, payload]`, so a
    * replayed field has the class the cold run's field had: `i` Int,
    * `l` Long, `d` Double, `f` Float, `b` Boolean, `s` String, `n`
    * null, `a` a sequence (replays as a List), `m` a map. Long and
    * floating-point payloads are strings, so they stay exact and NaN
    * and the infinities survive. A value of any other class (a date,
    * say) replays as its string. */
  private def encode(v: Any): Any = v match {
    case null => Seq("n")
    case i: Int => Seq("i", i)
    case l: Long => Seq("l", l.toString)
    case d: Double => Seq("d", d.toString)
    case f: Float => Seq("f", f.toString)
    case b: Boolean => Seq("b", b)
    case s: String => Seq("s", s)
    case m: scala.collection.Map[_, _] =>
      Seq("m", m.map { case (k, x) => k.toString -> encode(x) })
    case it: Iterable[_] => Seq("a", it.map(encode).toSeq)
    case a: Array[_] => encode(a.toSeq)
    case other => Seq("s", other.toString)
  }

  private def decode(v: Any): Any = v match {
    case Seq("n") => null
    case Seq("i", n: Double) => n.toInt
    case Seq("l", s: String) => s.toLong
    case Seq("d", s: String) => s.toDouble
    case Seq("f", s: String) => s.toFloat
    case Seq("b", b: Boolean) => b
    case Seq("s", s: String) => s
    case Seq("m", m: Map[_, _]) =>
      m.map { case (k, x) => k.toString -> decode(x) }
    case Seq("a", xs: Seq[_]) => xs.map(decode).toList
  }

  private def readRecord(p: Path): Option[Record] =
    Try {
      val m = MinJson.parse(Files.readString(p, UTF_8))
        .asInstanceOf[Map[String, Any]]
      Record(m("args").toString, m("pipeline").toString,
        m("step").asInstanceOf[Double].toInt,
        m("seq").asInstanceOf[Double].toLong,
        decode(m("fields")).asInstanceOf[Map[String, Any]])
    }.toOption

  private def writeRecord(p: Path, r: Record): Unit = {
    val json = MinJson.render(Map("args" -> r.args, "pipeline" -> r.pipeline,
      "step" -> r.step, "seq" -> r.seq, "fields" -> encode(r.fields)))
    val tmp = p.resolveSibling(s"${p.getFileName}.${java.util.UUID.randomUUID}.tmp")
    Files.writeString(tmp, json + "\n", UTF_8)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(UTF_8)).map(b => f"$b%02x").mkString

  private def hashArgs(args: Map[String, Any]): String =
    sha256(MinJson.render(args - "overwrite"))

  private def pipelineKey(pipeline: Option[String]): String =
    sha256(pipeline.getOrElse("")).take(16)

  /** Identity of one step invocation across runs: the pipeline, the
    * step's position in it and the foreach item. Table records are kept
    * per step key, so two steps writing one table keep two records. */
  private def stepKey(pipeline: String, stepIndex: Int,
                      item: Option[Any]): String =
    sha256(s"$pipeline\u0000$stepIndex\u0000${item.map(MinJson.render).getOrElse("")}")
      .take(16)

  private def tableName(t: TableOutput): String =
    t.table.toLowerCase(java.util.Locale.ROOT).replaceAll("[^a-z0-9_.-]", "_")

  private def recordPath(o: Output, stepKey: String): Path = o match {
    case FileOutput(p) => p.resolveSibling(s".${p.getFileName}.commit")
    case t @ TableOutput(db, _) =>
      db.resolveSibling(s".${db.getFileName}.${tableName(t)}.$stepKey.commit")
  }

  /** The table record files beside database `db` whose table part
    * matches `table` (a regex). */
  private def recordFiles(db: Path, table: String): Seq[Path] = {
    val name = s"\\Q.${db.getFileName}.\\E$table\\.[0-9a-f]{16}\\.commit".r
    Option(db.toAbsolutePath.getParent).filter(Files.isDirectory(_)).toSeq
      .flatMap { d =>
        val s = Files.list(d)
        try s.iterator().asScala
          .filter(p => name.matches(p.getFileName.toString)).toList
        finally s.close()
      }
  }

  /** Every commit record of a table, whichever step wrote it. */
  private def tableRecords(t: TableOutput): Seq[(Path, Record)] =
    recordFiles(t.db, java.util.regex.Pattern.quote(tableName(t)))
      .flatMap(p => readRecord(p).map(p -> _))

  /** Table records are read, deleted and numbered under one lock, so
    * concurrent foreach items writing one table get distinct sequence
    * numbers. */
  private val tableLock = new Object

  /** What the ledger decides about a pipeline's table writes before its
    * first step, by step index.
    *
    * `rebuild`: replacing writes that must run although their records
    * match. Such a write is followed, before the table's next replacing
    * write, by an `append`/`upsert` that will run while its own earlier
    * effect, or the effect of a write after it, is still in the table.
    * Re-running the replacing write clears those effects (see
    * [[Entry.begin]]); skipping it would apply the `append`/`upsert` on
    * top of them.
    *
    * `replacedLater`: `append`/`upsert` writes whose table a later
    * replacing write of the pipeline rewrites anyway, so they may run on
    * top of their own earlier effect.
    *
    * Both are judged from the arguments as they resolve in the
    * pipeline's initial scope. A table write whose arguments do not
    * resolve there (a foreach item, an `output_var` field) counts as one
    * that will run with its effect in the table, on any table, so every
    * replacing write before it re-runs. */
  final case class TablePlan(rebuild: Set[Int], replacedLater: Set[Int])

  def tablePlan(p: Pipeline, scope: Scope): TablePlan = {
    def placeholder(v: Any): Boolean = v match { // left unresolved
      case s: String => s.contains('{')
      case m: Map[_, _] => m.values.exists(placeholder)
      case l: Seq[_] => l.exists(placeholder)
      case _ => false
    }
    val pk = pipelineKey(p.sourcePath)
    // table None = unknown (matches any table), replaces None = unknown
    case class Write(idx: Int, table: Option[TableOutput],
                     replaces: Option[Boolean], runs: Boolean,
                     applied: Boolean)
    val writes = p.steps.zipWithIndex.collect {
      case (s, i) if s.args.contains("db_path") && s.args.contains("table") =>
        val args =
          if (s.foreach.nonEmpty || s.sequentialForeach.nonEmpty) None
          else Try(Interpolator.resolve(s.args, scope.withStep(i + 1))
            .asInstanceOf[Map[String, Any]]).toOption
            .filterNot(placeholder)
        args.flatMap(a => declaredOutputs(a).collectFirst {
          case t: TableOutput => (a, t)
        }) match {
          case None => Write(i, None, None, runs = true, applied = true)
          case Some((a, t)) =>
            val own = readRecord(recordPath(t, stepKey(pk, i, None)))
              .filter(_ => Files.exists(t.db))
            val forced = a.get("overwrite")
              .exists(v => Try(v.toString.toBoolean).getOrElse(true))
            Write(i, Some(t), Some(replacing(a)),
              runs = forced || !own.exists(_.args == hashArgs(a)),
              applied = own.nonEmpty)
        }
    }
    def sameTable(a: TableOutput, b: TableOutput): Boolean =
      a.db.toAbsolutePath.normalize == b.db.toAbsolutePath.normalize &&
        tableName(a) == tableName(b)
    // may a and b write one table? / do they surely?
    def may(a: Write, b: Write): Boolean =
      a.table.isEmpty || b.table.isEmpty || surely(a, b)
    def surely(a: Write, b: Write): Boolean =
      a.table.zip(b.table).exists { case (x, y) => sameTable(x, y) }
    val tails = writes.tails.toList
    val rebuild = tails.collect {
      case r +: after if !r.replaces.contains(false) =>
        val segment = after.filter(may(r, _))
          .takeWhile(w => !(surely(r, w) && w.replaces.contains(true)))
        val stale = segment.tails.exists {
          case w +: later =>
            !w.replaces.contains(true) && w.runs &&
              (w.applied || later.exists(_.applied))
          case _ => false
        }
        if (stale) Some(r.idx) else None
    }.flatten.toSet
    val replacedLater = tails.collect {
      case w +: after if w.replaces.contains(false) &&
          after.exists(r => surely(w, r) && r.replaces.contains(true)) => w.idx
    }.toSet
    TablePlan(rebuild, replacedLater)
  }

  /** The ledger's view of one step invocation: its declared outputs and
    * their commit records, with the pipeline's [[TablePlan]]. */
  final class Entry(args: Map[String, Any], pipeline: Option[String],
                    stepIndex: Int, item: Option[Any], plan: TablePlan) {
    private val outputs = declaredOutputs(args)
    private val argsHash = hashArgs(args)
    private val pk = pipelineKey(pipeline)
    private val key = stepKey(pk, stepIndex, item)
    private val replaces = replacing(args)
    private def matching(o: Output): Option[Record] =
      readRecord(recordPath(o, key)).filter(_.args == argsHash)

    /** Every declared output is done (see the object doc); `fileDone`
      * decides file outputs. */
    def skippable(overwrite: Boolean, fileDone: Path => Boolean): Boolean =
      !overwrite && outputs.nonEmpty && outputs.forall {
        case FileOutput(p) => fileDone(p)
        case t: TableOutput =>
          !(replaces && plan.rebuild(stepIndex)) && Files.exists(t.db) &&
            matching(t).nonEmpty
      }

    /** The fields a skipped invocation binds to its `output_var`. */
    def replay(): Map[String, Any] =
      outputs.iterator.flatMap(matching).nextOption().map(_.fields)
        .getOrElse(args.filter { case (k, _) =>
          fileKeys.contains(k) || k == "db_path" || k == "table" })

    /** Before the step runs: drop its own records and, for a table, the
      * records of the writes whose effect this one overwrites or
      * reorders (see the object doc). Fails, running nothing, when an
      * `append`/`upsert` would land on top of its own earlier effect. */
    def begin(overwrite: Boolean): Unit = outputs.foreach {
      case o: FileOutput => Files.deleteIfExists(recordPath(o, key))
      case t: TableOutput => tableLock.synchronized {
        // a new database file holds none of the tables its records describe
        if (!Files.exists(t.db)) recordFiles(t.db, ".+").foreach(Files.deleteIfExists)
        val own = recordPath(t, key)
        val previous = readRecord(own)
        val others = tableRecords(t)
          .filterNot(_._1.getFileName == own.getFileName)
        val later = others.filter { case (_, r) =>
          r.pipeline == pk && r.step > stepIndex }
        if (!replaces && !overwrite && !plan.replacedLater(stepIndex) &&
            (previous.exists(_.args != argsHash) || later.nonEmpty)) {
          others.foreach(o => Files.deleteIfExists(o._1))
          throw new IllegalStateException(
            s"${t.db}: table ${t.table} holds the effect of an earlier run " +
              "this write cannot take back (this step ran before with other " +
              "arguments, or a later write to the table ran after it). The " +
              "records of the table's other writes are dropped, so a re-run " +
              "rewrites it from its replacing write; a table with no " +
              "replacing write is rebuilt by deleting its database file.")
        }
        Files.deleteIfExists(own)
        others.foreach { case (p, r) =>
          val after =
            if (r.pipeline == pk) r.step > stepIndex
            else previous.map(r.seq > _.seq).getOrElse(replaces)
          if (after) Files.deleteIfExists(p)
        }
      }
    }

    /** After the step returned: record it as committed. An output the
      * step did not produce gets no record. */
    def commit(fields: Map[String, Any]): Unit = outputs.foreach {
      case o @ FileOutput(p) =>
        if (Files.exists(p))
          writeRecord(recordPath(o, key),
            Record(argsHash, pk, stepIndex, 0L, fields))
      case t: TableOutput => if (Files.exists(t.db)) tableLock.synchronized {
        val seq = tableRecords(t).map(_._2.seq).maxOption.getOrElse(0L) + 1
        writeRecord(recordPath(t, key),
          Record(argsHash, pk, stepIndex, seq, fields))
      }
    }
  }
}
