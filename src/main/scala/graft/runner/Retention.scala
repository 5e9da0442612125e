package graft.runner

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.util.Try

import graft.spec.{Interpolator, Pipeline, Scope, Step}

/** Scratch retention for chain intermediates (SURVEY §4 extension).
  *
  * A multi-step assembly chain (scrub → dedup → decontaminate → …)
  * materializes a full corpus copy per step; at 100 TB the peak scratch
  * is ~3 corpus copies held SIMULTANEOUSLY even though each copy has
  * exactly one downstream reader. A step marked `retention: scratch`
  * tells the runner its declared outputs are intermediates: the runner
  * finds the step's LAST in-pipeline consumer before execution starts
  * and deletes the outputs as soon as that consumer completes, replacing
  * each with a zero-size tombstone (`<output>.tombstone`) that records
  * "materialized, consumed, dropped".
  *
  * The reference's skip-if-exists re-run contract (Ledger) survives the
  * drop: on re-invocation a tombstoned output counts as materialized
  * PROVIDED every transitive consumer will itself skip — i.e. the data
  * is only "done" if nothing downstream still needs to read it. When a
  * downstream final output is missing, the tombstone chain re-runs
  * backwards exactly as far as needed (recompute-on-demand), then drops
  * the intermediates again. Presence semantics, not freshness — same
  * contract as [[Ledger]].
  *
  * Consumer analysis is static, over the RAW (pre-interpolation) YAML:
  * step j consumes step i when a string anywhere in j's args references
  * `{<i.output_var>.` or contains one of i's raw declared-output
  * templates verbatim (the `benchmark_input: "{outdir}/benchmark.parquet"`
  * literal-reuse idiom). `contains` errs long — an over-detected
  * consumer only delays the drop, never loses data. Fan-out
  * (`foreach`) steps never produce scratch (their outputs vary per
  * item) but are recognized as consumers.
  */
object Retention {

  /** Per-run retention state. Built once per `runPipeline` when any
    * step resolves to `retention: scratch`; all methods are called from
    * the (sequential) step loop. */
  final class State private[Retention] (
      /** producer idx → (resolved outputs, last consumer idx; -1 none) */
      private[Retention] val scratch: Map[Int, (Seq[Path], Int)],
      /** step idx → will this step skip on this run (reverse-pass
        * prediction; used for the tombstone skip rule). */
      private[Retention] val willSkip: Map[Int, Boolean],
      /** step idx → consumer idxs (any step, not just scratch). */
      private[Retention] val consumers: Map[Int, Seq[Int]]) {

    /** Tombstone-aware skip: output `o` of step `idx` is tombstoned and
      * every consumer of this step is itself predicted to skip (so
      * nothing will need the dropped data). The output path is the
      * RUNTIME-resolved one; downstream uses the pre-pass prediction. */
    def tombstoneSkippable(idx: Int, o: Path): Boolean =
      tombstoned(o) &&
        consumers.getOrElse(idx, Nil).forall(j => willSkip.getOrElse(j, false))

    /** A step that actually RAN re-materialized its outputs — clear any
      * stale tombstones so presence wins again. */
    def stepRan(args: Map[String, Any]): Unit =
      Ledger.fileOutputs(args).foreach(o =>
        Files.deleteIfExists(tombstonePath(o)))

    /** Called after step `idx` completes: drop every scratch output
      * whose last consumer is `idx`. */
    def afterStep(idx: Int): Unit =
      scratch.foreach { case (_, (outs, last)) =>
        if (last == idx) outs.foreach(drop)
      }

    /** Called after the full step loop (and async drain): drop scratch
      * outputs no step consumed. */
    def afterRun(): Unit =
      scratch.foreach { case (_, (outs, last)) =>
        if (last < 0) outs.foreach(drop)
      }
  }

  /** Build the per-run plan, or None when no step opts in. `scope` is
    * the pipeline's initial scope (vars + overrides bound) — output
    * paths that interpolate from vars/dirs resolve here; a path that
    * needs a not-yet-bound output var is left out of the plan
    * (conservative: never dropped, never tombstone-skipped). */
  def plan(p: Pipeline, scope: Scope): Option[State] = {
    val steps = p.steps.toIndexedSeq
    def resolved(s: String): Option[String] =
      Try(Interpolator.resolve(s, scope).toString).toOption

    val scratchIdx = steps.zipWithIndex.collect {
      case (s, i) if s.foreach.isEmpty && s.sequentialForeach.isEmpty &&
        s.retention.flatMap(resolved).contains("scratch") => i
    }
    if (scratchIdx.isEmpty) return None

    def rawOutputs(s: Step): Seq[String] =
      Ledger.fileKeys.flatMap(s.args.get).map(_.toString)
    def rawStrings(v: Any): Seq[String] = v match {
      case s: String => Seq(s)
      case m: Map[_, _] => m.values.toSeq.flatMap(rawStrings)
      case l: Seq[_] => l.flatMap(rawStrings)
      case _ => Nil
    }
    val stepStrings: IndexedSeq[Seq[String]] =
      steps.map(s => rawStrings(s.args))

    def consumes(j: Int, i: Int): Boolean = {
      val varRef = steps(i).outputVar.map(v => s"{$v.")
      val outs = rawOutputs(steps(i))
      stepStrings(j).exists(str =>
        varRef.exists(str.contains) || outs.exists(str.contains))
    }
    // consumer map over ALL steps (the reverse pass walks non-scratch
    // steps too — a missing final output must un-skip its whole chain)
    val consumers: Map[Int, Seq[Int]] = steps.indices.map { i =>
      i -> steps.indices.filter(j => j > i && consumes(j, i))
    }.toMap

    val scratchOuts: Map[Int, (Seq[Path], Int)] = scratchIdx.flatMap { i =>
      val outs = rawOutputs(steps(i)).flatMap(resolved).map(Paths.get(_))
      if (outs.isEmpty) None
      else Some(i -> (outs, consumers(i).lastOption.getOrElse(-1)))
    }.toMap
    if (scratchOuts.isEmpty) return None

    // reverse pass: predict which steps skip on THIS run
    val willSkip = scala.collection.mutable.Map[Int, Boolean]()
    for (j <- steps.indices.reverse) {
      val s = steps(j)
      val fanout = s.foreach.nonEmpty || s.sequentialForeach.nonEmpty
      val overwrite = s.args.get("overwrite")
        .flatMap(v => resolved(v.toString))
        .exists(v => Try(v.toBoolean).getOrElse(true)) // unparseable ⇒ assume it runs
      val outs = rawOutputs(s).map(resolved)
      willSkip(j) =
        !fanout && !overwrite && outs.nonEmpty && outs.forall {
          case Some(o) =>
            val path = Paths.get(o)
            Ledger.materialized(path) || (tombstoned(path) &&
              consumers(j).forall(k => willSkip.getOrElse(k, false)))
          case None => false // unresolvable here — assume it runs
        }
    }
    Some(new State(scratchOuts, willSkip.toMap, consumers))
  }

  private[runner] def tombstonePath(o: Path): Path =
    Paths.get(o.toString + ".tombstone")

  private[runner] def tombstoned(o: Path): Boolean =
    !Files.exists(o) && Files.exists(tombstonePath(o))

  /** Delete an output (file or directory tree) and leave a tombstone. */
  private def drop(o: Path): Unit = if (Files.exists(o)) {
    if (Files.isDirectory(o)) {
      val s = Files.walk(o)
      try s.sorted(Comparator.reverseOrder[Path]()).forEach(p =>
        Files.deleteIfExists(p))
      finally s.close()
    } else Files.deleteIfExists(o)
    Files.write(tombstonePath(o),
      s"dropped after last consumer (retention: scratch) at ${java.time.Instant.now}\n"
        .getBytes("UTF-8"))
  }
}
