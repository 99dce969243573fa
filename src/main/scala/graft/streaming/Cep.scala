package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Complex-event-processing pattern matching — the reference's flink-cep
  * library (Pattern.java:129-542 fluent builder, NFA.java:85 with
  * computeNextStates:539, SharedBuffer.java) and SQL MATCH_RECOGNIZE
  * (StreamExecMatch.scala:68), re-expressed as a small explicit NFA run
  * per key inside flatMapGroupsWithState / a sorted batch scan.
  *
  * Supported surface (what MatchRecognizeITCase exercises): a sequence of
  * named steps, each with a predicate; strict (`next`) or relaxed
  * (`followedBy`/`followedByAny`) contiguity per step; quantifiers
  * (oneOrMore/optional, greedy or reluctant, with `until` loop closure);
  * absence constraints (`notNext`/`notFollowedBy`, interior via step guards
  * and trailing via held completions with a time bound); `within`;
  * after-match skip strategies PAST LAST ROW / TO NEXT ROW /
  * TO FIRST|LAST variable.
  *
  * Scale: state per key is the set of active partial runs — bounded by
  * pattern length × concurrent starts inside the `within` horizon, never by
  * stream length. The NFA advances row-at-a-time, so the streaming variant
  * processes each watermark-released row exactly once. The historical worst
  * case — an always-true anchor over a monotone million-row run used to
  * hold O(runs × match length) list cells — is bounded since round 11 by
  * the same two ideas as the reference's SharedBuffer.java versioned DAG:
  * matched-row trails are SEGMENT-COMPRESSED (consecutive same-label ids
  * collapse to one [[Seg]] cell, so a monotone absorption is O(label
  * switches) not O(rows)) and dead runs are DOMINATION-PRUNED (under
  * greedy SKIP PAST LAST ROW semantics a same-anchor shorter sibling — and,
  * when no `within` bound exists, a later-anchor run at the same pattern
  * position — can never out-rank its dominator at any future completion, so
  * it is dropped as it forms; see [[Pattern.greedyPrunable]]). The
  * `CepBlowupProbe` drives the exact worst shape to 10 M rows per key.
  */
object Cep {

  /** One NFA step: matches rows satisfying `pred`; `strict` = the step must
    * match the row immediately following the previous step's row (CEP
    * `next`), otherwise non-matching rows may intervene (`followedBy`);
    * `oneOrMore` = the step may absorb multiple rows (Pattern.oneOrMore,
    * greedy — the longest absorption wins when matches compete);
    * `optional` = the step may be skipped entirely (Pattern.optional — `?`;
    * combined with oneOrMore it is `*`);
    * `reluctant` = non-greedy quantifier (`+?` / `*?`): when several
    * absorption lengths complete on the same row, the SHORTEST wins (and
    * because this NFA emits at first completion, shorter parses already
    * finish earlier across rows);
    * `guardNot` = absence constraint (Pattern.notFollowedBy, Pattern.java:
    * 379): while a run waits at this step, a row matching the guard kills it
    * — `guardOnNext` restricts the guard to the row immediately following
    * the previous step's row (Pattern.notNext, Pattern.java:354);
    * `anyMatch` = Pattern.followedByAny (Pattern.java:443): on a match the
    * un-advanced run ALSO survives, so later rows matching this step open
    * alternative branches;
    * `untilPred` = Pattern.until (Pattern.java:259): closes a oneOrMore
    * loop — once a row satisfies it, absorb branches at this step die;
    * `consecutive` = Pattern.consecutive (Pattern.java:279): STRICT inner
    * contiguity for the oneOrMore loop — once the step has started
    * absorbing, any row that doesn't extend the absorption immediately
    * kills the absorb branch (entry contiguity stays governed by `strict`);
    * `combinations` = Pattern.allowCombinations (Pattern.java:305):
    * non-deterministic relaxed inner contiguity — on an absorption the
    * un-absorbed branch ALSO survives, so matching rows may be skipped and
    * every subset combination of loop rows is explored (exponential in the
    * loop's matching-row count, exactly like the reference — bound it with
    * `within`/`until`). */
  case class Step(name: String, pred: KeyedRow => Boolean, strict: Boolean = false,
                  oneOrMore: Boolean = false, optional: Boolean = false,
                  reluctant: Boolean = false,
                  guardNot: Option[KeyedRow => Boolean] = None,
                  guardOnNext: Boolean = false,
                  anyMatch: Boolean = false,
                  untilPred: Option[KeyedRow => Boolean] = None,
                  consecutive: Boolean = false,
                  combinations: Boolean = false)

  /** Pattern.times(n) (Pattern.java:times): n consecutive occurrences —
    * pure expansion into n copies of the step. */
  def times(step: Step, n: Int): Seq[Step] = Seq.fill(n)(step)

  /** Pattern.times(n).consecutive(): the repetitions themselves demand
    * strict contiguity; the first copy keeps the step's own entry
    * contiguity. */
  def timesConsecutive(step: Step, n: Int): Seq[Step] =
    step +: Seq.fill(n - 1)(step.copy(strict = true))

  sealed trait AfterMatch
  /** drop all partial runs overlapping the match (MATCH_RECOGNIZE default) */
  case object SkipPastLastRow extends AfterMatch
  /** keep scanning from the next row — overlapping matches allowed */
  case object SkipToNextRow extends AfterMatch
  /** resume AT the first/last row the match mapped to `variable`
    * (AFTER MATCH SKIP TO FIRST/LAST <var> — AfterMatchSkipStrategy.java).
    * Runs anchored at or after that row survive the emit; completions on the
    * same row cascade (each emitted match applies its own skip), matching
    * the reference's re-scan-from-the-skip-point behavior without
    * re-consuming input. A match can never resume at its own start row
    * (the reference throws on that infinite loop; here it is excluded). */
  case class SkipToVar(variable: String, first: Boolean) extends AfterMatch

  /** `tailNot` = a trailing Pattern.notFollowedBy (absence at the end of the
    * pattern, Pattern.java:379): a run that completes all concrete steps is
    * HELD; a row matching `tailNot` within `withinMs` of the run's start
    * kills it, and the hold is emitted as a match once the window passes
    * without one (or the bounded input ends — no later row can arrive).
    * Matches from held runs are independent (SkipToNextRow semantics); the
    * reference likewise requires a time bound for trailing absence. */
  case class Pattern(steps: Seq[Step], withinMs: Long = Long.MaxValue,
                     afterMatch: AfterMatch = SkipPastLastRow,
                     tailNot: Option[KeyedRow => Boolean] = None) {
    // the reference's Quantifier rejects the pair outright
    // (Quantifier.java:86-97 "You can apply either combinations or
    // consecutive, not both!"); here the flags would interact incoherently
    // (strict kills the very miss-branches combinations revives)
    steps.find(s => s.consecutive && s.combinations).foreach { s =>
      throw new IllegalArgumentException(
        s"step '${s.name}': apply either allowCombinations or consecutive, not both")
    }
    /** any optional step → ε-closure can duplicate configurations */
    lazy val hasOptional: Boolean = steps.exists(_.optional)
    /** reluctant quantifier anywhere → same-row completions rank shortest-first */
    lazy val preferFewest: Boolean = steps.exists(_.reluctant)
    /** positions a fresh run may anchor at: 0 plus whatever is reachable by
      * skipping leading optional steps (computed once, not per row) */
    lazy val startPositions: List[Int] = {
      val b = scala.collection.mutable.ListBuffer(0)
      var p = 0
      while (p < steps.size - 1 && steps(p).optional) { p += 1; b += p }
      b.toList
    }
    /** Rank-domination pruning is sound for this pattern (the run-count
      * half of the SharedBuffer-analogue state bound, see the object
      * scaladoc). Two same-position runs march in LOCKSTEP (identical
      * futures) when nothing in a step's behavior depends on the trail —
      * then the one that ranks below its sibling under the emission order
      * `(startTs, firstId, sizeKey(len))` can never be the emitted match
      * and is dropped as it forms. The length leg of the rank FLIPS with
      * the quantifier mode (round 12): greedy prefers the LONGEST lockstep
      * sibling, reluctant the SHORTEST — the domination argument is
      * symmetric because lockstep futures add identical row counts, so the
      * length order is preserved forever. Preconditions, each of which
      * would otherwise let a dominated run diverge from (or out-rank) its
      * dominator:
      *  - SKIP PAST LAST ROW: only the top-ranked same-row completion is
      *    ever emitted, so a run that always ranks below a lockstep sibling
      *    is unreachable output;
      *  - no optional steps / trailing absence: those paths rank or hold
      *    completions independently of the (anchor, position, length) key;
      *  - no strict / notNext-guard / consecutive step: a run's future must
      *    not depend on its `lastRowId`, which differs between dominator
      *    and dominated;
      *  - no followedByAny / allowCombinations: branch-reviving flags keep
      *    siblings whose futures genuinely diverge. */
    lazy val rankPrunable: Boolean =
      afterMatch == SkipPastLastRow && tailNot.isEmpty &&
        !hasOptional && steps.forall(s => !s.anyMatch && !s.combinations &&
          !s.strict && !s.guardOnNext && !s.consecutive)
  }

  case class Match(key: Long, start_ts: Long, end_ts: Long, ids: Seq[Long],
                   labels: Seq[String])

  /** One segment of a run's matched-row trail: ids `lo..hi` (consecutive,
    * ascending), all matched under `label`. Trails are newest-first segment
    * lists: consing a row that extends the head segment replaces only the
    * head cell, so sibling branches keep sharing the tail, and a monotone
    * absorption compresses to O(label switches) cells instead of one cell
    * per row — the storage half of the SharedBuffer.java:54 analogue. */
  private[streaming] case class Seg(label: String, lo: Long, hi: Long)

  private[streaming] object Trail {
    def cons(label: String, id: Long, t: List[Seg]): List[Seg] = t match {
      case Seg(l, lo, hi) :: tail if l == label && id == hi + 1 =>
        Seg(l, lo, id) :: tail
      case _ => Seg(label, id, id) :: t
    }
    /** oldest-first (ids, labels) expansion for Match emission */
    def expand(t: List[Seg]): (Seq[Long], Seq[String]) = {
      val ids = Seq.newBuilder[Long]; val labels = Seq.newBuilder[String]
      t.reverse.foreach { s =>
        var i = s.lo
        while (i <= s.hi) { ids += i; labels += s.label; i += 1 }
      }
      (ids.result(), labels.result())
    }
    /** label-agnostic id coverage (adjacent segments merged, newest-first) —
      * run ids are strictly ascending by construction, so equal coverage ⇔
      * equal id sequence; used as the ε-closure dedup key. */
    def idShape(t: List[Seg]): List[(Long, Long)] = t match {
      case Nil => Nil
      case h :: rest =>
        var out = List.empty[(Long, Long)]
        var cur = (h.lo, h.hi)
        rest.foreach { s =>
          if (s.hi + 1 == cur._1) cur = (s.lo, cur._2)
          else { out = cur :: out; cur = (s.lo, s.hi) }
        }
        (cur :: out).reverse // newest-first, deterministic
    }
  }

  /** A partial run: index of the next step to satisfy, the matched-row
    * trail (newest-first segments) and its total row count `len`. `firstId`
    * is the anchor row's id (= the trail's oldest id, kept O(1) for
    * skip-strategy pruning); `lastTs` the timestamp of the newest matched
    * row (the end_ts of a match emitted from a held run). */
  private[streaming] case class Run(nextStep: Int, startTs: Long, trail: List[Seg],
                                    len: Int, lastRowId: Long,
                                    firstId: Long, lastTs: Long)

  /** ε-closure over optional steps: a run standing before an optional step
    * may equally stand after it — expand into one sibling per skippable
    * position (possibly including the completed position). */
  private def closure(pattern: Pattern, run: Run): List[Run] =
    if (!pattern.hasOptional) run :: Nil // hot path: no allocation beyond the cons
    else {
      val out = scala.collection.mutable.ListBuffer(run)
      var p = run.nextStep
      while (p < pattern.steps.size && pattern.steps(p).optional) {
        p += 1
        out += run.copy(nextStep = p)
      }
      out.toList
    }

  private def toMatch(key: Long, d: Run): Match = {
    val (ids, labels) = Trail.expand(d.trail)
    Match(key, d.startTs, d.lastTs, ids, labels)
  }

  /** The +2999 µs `ets` shift (see matchStream) would otherwise eat up to
    * ~3 ms of a user-specified out-of-orderness budget — a row arriving
    * within 3 ms under the release frontier could be ordered-past even
    * though it honored `delay`. Widening the REGISTERED delay by 3 ms
    * restores the user's contract exactly (watermarks only ever advance
    * more slowly); Spark's interval parser accepts the multi-unit form.
    *
    * A ZERO delay stays uncompensated, deliberately: it promises no
    * reorder tolerance (nothing to weaken), and widening it would hold the
    * final watermark 3 ms under max(ts) forever — on bounded input the
    * stream's last rows could then never flush. With a nonzero delay the
    * last `delay` of rows per key stays pending until the bounded caller's
    * end marker ([[Bounded.withEnd]]) drives the watermark past them, with
    * or without the extra 3 ms, so the compensation costs nothing there. */
  private def compensatedDelay(delay: String): String =
    if (delay.trim.matches("""(?i)0+\s+\w+""")) delay else s"$delay 3 milliseconds"

  /** Row id the scan resumes at under SKIP TO FIRST/LAST <var>: the id of
    * the first/last matched row labeled `variable` (ids/labels newest-first).
    * A match with no row under that variable skips past its last row — the
    * reference treats it as PAST LAST ROW in that case. */
  private def skipTargetId(d: Run, variable: String, first: Boolean): Long = {
    var found = -1L
    var t = d.trail
    while (t.nonEmpty) {
      if (t.head.label == variable) {
        found = t.head.lo           // newest-first: keep overwriting → FIRST
        if (!first) return t.head.hi // newest-first head's hi = LAST
      }
      t = t.tail
    }
    if (found >= 0) found else d.lastRowId + 1
  }

  /** Advance the NFA by one row; returns (new active runs, completed matches,
    * newly held runs — only for tailNot patterns).
    * Mirrors NFA.computeNextStates (cep/nfa/NFA.java:539): each active run
    * either advances, survives (relaxed contiguity), or dies (strict miss /
    * within-timeout / absence-guard hit); every row may also start a fresh
    * run. */
  private def advance(pattern: Pattern, key: Long, active: List[Run], r: KeyedRow,
                      prevRowId: Long): (List[Run], List[Match], List[Run]) = {
    val alive = active.filter(run => r.ts - run.startTs <= pattern.withinMs)
    val stepped = alive.flatMap { run =>
      val step = pattern.steps(run.nextStep)
      // a run that already holds rows under this oneOrMore step is mid-loop:
      // consecutive() turns its contiguity strict (step names are unique per
      // pattern, so the trail head's label identifies the absorbing step)
      val absorbing = step.oneOrMore &&
        run.trail.nonEmpty && run.trail.head.label == step.name
      val effStrict = step.strict || (step.consecutive && absorbing)
      // absence guard (notFollowedBy / notNext): the constraint outranks the
      // step predicate — a row that violates the absence kills the run even
      // if it could also have advanced it
      val guarded = step.guardNot.exists(g =>
        (!step.guardOnNext || run.lastRowId == prevRowId) && g(r))
      if (guarded) Nil
      else if (step.pred(r) && (!effStrict || run.lastRowId == prevRowId)) {
        val grown = Trail.cons(step.name, r.id, run.trail)
        val advanced = Run(run.nextStep + 1, run.startTs, grown, run.len + 1,
          r.id, run.firstId, r.ts)
        // a oneOrMore step also branches into "absorb and stay" — the
        // parallel run-set is how the NFA explores every absorption length;
        // `until` closes the loop: no absorb branch once its condition holds
        val stay =
          if (step.oneOrMore && !step.untilPred.exists(_(r)))
            Run(run.nextStep, run.startTs, grown, run.len + 1,
              r.id, run.firstId, r.ts) :: Nil
          else Nil
        // followedByAny: the un-advanced run survives too, so a later row
        // matching this step opens an alternative branch; allowCombinations
        // does the same mid-loop — matching rows may be skipped, yielding
        // every absorption subset
        val keep =
          if ((step.anyMatch || (step.combinations && absorbing)) && !step.strict)
            run :: Nil
          else Nil
        closure(pattern, advanced) ++ stay ++ keep
      }
      else if (effStrict) Nil // strict miss kills the run (incl. mid-loop consecutive)
      else if (step.oneOrMore && step.untilPred.exists(_(r))) Nil // loop closed
      else List(run) // relaxed: keep waiting
    }
    // fresh runs may anchor at step 0 or at any position reachable from it
    // by skipping optional steps
    val started = pattern.startPositions.flatMap { j =>
      val st = pattern.steps(j)
      if (st.pred(r)) {
        val t0 = List(Seg(st.name, r.id, r.id))
        val adv = Run(j + 1, r.ts, t0, 1, r.id, r.id, r.ts)
        // a oneOrMore start step keeps an absorb-branch anchored at itself
        val stay =
          if (st.oneOrMore && !st.untilPred.exists(_(r)))
            List(Run(j, r.ts, t0, 1, r.id, r.id, r.ts))
          else Nil
        closure(pattern, adv) ++ stay
      } else Nil
    }
    val (done0, pending0) = (stepped ++ started).partition(_.nextStep == pattern.steps.size)
    // ε-closure can reach the same configuration along several skip paths —
    // but only when optional steps exist; skip the (O(runs·|segs|)) dedup
    // entirely for plain patterns, which are the hot path
    val done = if (pattern.hasOptional) done0.distinctBy(d => Trail.idShape(d.trail)) else done0
    val pending1 =
      if (pattern.hasOptional)
        pending0.distinctBy(p0 => (p0.nextStep, Trail.idShape(p0.trail)))
      else pending0
    // rank-domination prune (see Pattern.rankPrunable): a same-anchor
    // same-position rank-dominated sibling — and, when no within bound can
    // kill an earlier-anchored dominator first, ANY lower-ranked run at the
    // same position — marches in lockstep with its dominator forever and
    // can never be the SKIP PAST LAST ROW winner. Dropping them as they
    // form bounds the always-true-anchor worst case from O(rows²) active
    // runs to O(pattern length); order is preserved so same-rank ties keep
    // their previous emission choice. The length leg flips with the
    // quantifier mode: greedy keeps the longest sibling, reluctant the
    // shortest (round 12 — the previously-unprunable reluctant shape).
    val pending =
      if (!pattern.rankPrunable || pending1.sizeIs <= 1) pending1
      else {
        val lenKey: Run => Int =
          if (pattern.preferFewest) p => p.len else p => -p.len
        if (pattern.withinMs == Long.MaxValue) {
          val rankLt = Ordering.Tuple3[Long, Long, Int].lt _
          val best = scala.collection.mutable.Map.empty[Int, Run]
          pending1.foreach { p =>
            val cur = best.get(p.nextStep)
            if (cur.forall(c => rankLt((p.startTs, p.firstId, lenKey(p)),
                                       (c.startTs, c.firstId, lenKey(c)))))
              best(p.nextStep) = p
          }
          pending1.filter(p => best(p.nextStep) eq p)
        } else {
          val best = scala.collection.mutable.Map.empty[(Long, Int), Int]
          pending1.foreach { p =>
            val k = (p.firstId, p.nextStep)
            if (best.get(k).forall(_ > lenKey(p))) best(k) = lenKey(p)
          }
          pending1.filter(p => best((p.firstId, p.nextStep)) == lenKey(p))
        }
      }
    // a trailing absence holds completions open instead of emitting — the
    // caller owns the hold list (kill on tailNot hit, emit on window expiry)
    if (pattern.tailNot.isDefined) return (pending, Nil, done)
    // several runs may complete on the same row; MATCH_RECOGNIZE emits the
    // earliest-started (then greediest = most rows absorbed; reluctant
    // quantifiers flip that to fewest) one first
    val sizeKey: Run => Int =
      if (pattern.preferFewest) d => d.len else d => -d.len
    val ranked = done.sortBy(d => (d.startTs, d.firstId, sizeKey(d)))
    pattern.afterMatch match {
      case SkipPastLastRow if ranked.nonEmpty =>
        (Nil, List(toMatch(key, ranked.head)), Nil)
      case SkipToVar(v, first) if ranked.nonEmpty =>
        // cascade: each emitted match applies its own skip; completions and
        // pending runs anchored before the skip point (or at the emitted
        // match's own anchor — the reference's infinite-loop guard) drop
        val out = scala.collection.mutable.ListBuffer.empty[Match]
        var rest = ranked
        var pendingOut = pending
        while (rest.nonEmpty) {
          val m = rest.head
          out += toMatch(key, m)
          val skipId = skipTargetId(m, v, first)
          rest = rest.tail.filter(d => d.firstId >= skipId && d.firstId > m.firstId)
          pendingOut = pendingOut.filter(p => p.firstId >= skipId && p.firstId > m.firstId)
        }
        (pendingOut, out.toList, Nil)
      case _ =>
        (pending, ranked.map(d => toMatch(key, d)), Nil)
    }
  }

  /** Batch CEP: per-key (ts, id)-ordered scan — the reference's batch
    * equivalent of MATCH_RECOGNIZE. Rides [[SortedScan.perKeyOrdered]] (a
    * spillable partition sort + boundary scan), so executor memory holds only
    * the active run set per key — never the key group, never the match list:
    * matches stream out row-by-row as the NFA completes them. */
  def matchBatch(rows: Dataset[KeyedRow], pattern: Pattern,
                 prePartitionedByKey: Boolean = false): Dataset[Match] = {
    import rows.sparkSession.implicits._
    SortedScan.perKeyOrdered(rows, prePartitionedByKey) { (key, it) =>
      var active: List[Run] = Nil
      var holds: List[Run] = Nil // completed, awaiting trailing-absence expiry
      var prevId = Long.MinValue
      val main = it.flatMap { r =>
        val fromHolds: List[Match] =
          if (holds.isEmpty) Nil
          else {
            // expiry first: a hold whose window closed strictly before this
            // row is already a confirmed match, whatever this row is
            val (expired, live) = holds.partition(h => r.ts - h.startTs > pattern.withinMs)
            holds = if (pattern.tailNot.exists(_(r))) Nil else live
            expired.map(h => toMatch(key, h))
          }
        val (next, ms, newHolds) = advance(pattern, key, active, r, prevId)
        active = next
        holds ++= newHolds
        prevId = r.id
        fromHolds ++ ms
      }
      // end of bounded input: no later row can violate the absence — all
      // remaining holds are matches (`++` is by-name, so `holds` is read
      // only after the scan above drained)
      main ++ holds.map(h => toMatch(key, h))
    }
  }

  private[streaming] case class CepState(active: List[Run], pending: List[KeyedRow],
                                         prevId: Long, holds: List[Run])

  /** Built once per JVM — see [[StateEncoder]]. */
  private implicit val cepStateEncoder: Encoder[CepState] = StateEncoder[CepState]

  /** KeyedRow + the materialized event-time column the watermark rides on —
    * Spark's event-time-timeout check requires the watermarked attribute to
    * be visible in the stateful operator's input. */
  private[streaming] case class KeyedRowW(key: Long, ts: Long, id: Long, kind: String,
                               value: Double, ets: java.sql.Timestamp)

  /** Streaming CEP: buffer rows per key until the event-time watermark passes
    * them (the ordering guarantee Flink gets from its watermark/sorted-state
    * machinery), then feed them through the same NFA. `delay` is the bounded
    * out-of-orderness (WatermarkStrategy.forBoundedOutOfOrderness). */
  def matchStream(rows: Dataset[KeyedRow], pattern: Pattern,
                  delay: String = "0 seconds"): Dataset[Match] = {
    import rows.sparkSession.implicits._
    rows
      // Event time registered 2999 µs ABOVE the row's ts. Spark watermarks
      // are ms-granular (floor of max event time), so registering the raw
      // µs value caps the watermark at floor(max ts) and rows inside the
      // stream's final millisecond could never be released or even woken
      // (an event-time timeout must sit strictly between the current and a
      // future watermark tick — impossible at the cap). The +2999 shift
      // guarantees a pending row pushes the watermark ≥2 ticks above the
      // value seen when its timeout was set, so a wm+1 timeout always
      // fires, and the release threshold wm·1000−1000 always reaches
      // max(ts). The shift's bite out of the user's reordering tolerance is
      // paid back by registering `delay` + 3 ms ([[compensatedDelay]]), so
      // the effective tolerance is ≥ the user's contract.
      .withColumn("ets", timestamp_micros(col("ts") + lit(2999L)))
      .withWatermark("ets", compensatedDelay(delay))
      .as[KeyedRowW]
      .groupByKey(_.key)
      .flatMapGroupsWithState[CepState, Match](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (key, it, state) =>
          val st = state.getOption.getOrElse(CepState(Nil, Nil, Long.MinValue, Nil))
          val wmMs = state.getCurrentWatermarkMs()
          val releaseMicros = wmMs * 1000L - 1000L // covers max(ts), see ets
          val safeMicros = wmMs * 1000L - 2999L // conservative event-time "now"
          val incoming = it.map(w => KeyedRow(w.key, w.ts, w.id, w.kind, w.value))
          val all = (st.pending ++ incoming).sortBy(r => (r.ts, r.id))
          val (ready, pending) = all.partition(_.ts <= releaseMicros)
          var prev = st.prevId
          var active = st.active
          var holds = st.holds
          val out = scala.collection.mutable.ListBuffer.empty[Match]
          ready.foreach { r =>
            if (holds.nonEmpty) {
              val (expired, live) = holds.partition(h => r.ts - h.startTs > pattern.withinMs)
              out ++= expired.map(h => toMatch(key, h))
              holds = if (pattern.tailNot.exists(_(r))) Nil else live
            }
            val (next, ms, newHolds) = advance(pattern, key, active, r, prev)
            active = next; out ++= ms; holds ++= newHolds; prev = r.id
          }
          // the watermark itself confirms absence: holds whose window closed
          // below the conservative frontier can no longer be killed by any
          // in-order row
          if (holds.nonEmpty) {
            val (expired, live) = holds.partition(h => safeMicros - h.startTs > pattern.withinMs)
            out ++= expired.map(h => toMatch(key, h))
            holds = live
          }
          state.update(CepState(active, pending, prev, holds))
          // flush guarantee: wake this key even if no new data arrives for
          // it. A pending row needs only the next tick (its own shifted ets
          // already drives the watermark ≥2 ticks past wmMs); a hold wakes
          // when the watermark clears its absence window.
          val holdWakes = // guard the unbounded-within overflow
            if (pattern.withinMs >= Long.MaxValue / 2) Nil
            else holds.map(h => (h.startTs + pattern.withinMs + 2999L) / 1000L)
          val wakeAtMs =
            (pending.headOption.map(_ => wmMs + 1L) ++ holdWakes).minOption
          wakeAtMs.foreach { t =>
            state.setTimeoutTimestamp(math.max(t, wmMs + 1L))
          }
          out.iterator
      }
  }

  /** A row plus its navigation rings: `prev_*(k)` (1-based, `element_at`)
    * is the k-th PRECEDING row of the key's event-time order, `next_*(k)`
    * the k-th FOLLOWING one — the ordered in-state buffer
    * MATCH_RECOGNIZE's streaming DEFINE navigation rides (the reference
    * resolves PREV/NEXT against the NFA's row buffer,
    * MatchCodeGenerator.scala's navigation resolution). */
  case class NavRowN(key: Long, ts: Long, id: Long, kind: String, value: Double,
                     prev_ts: Seq[Long], prev_kind: Seq[String], prev_value: Seq[Double],
                     next_ts: Seq[Long], next_kind: Seq[String], next_value: Seq[Double])

  private[streaming] case class NavNState(pending: List[KeyedRow],
                                          ring: List[KeyedRow],
                                          holds: List[KeyedRow])

  /** Built once per JVM — see [[StateEncoder]]. */
  private implicit val navNStateEncoder: Encoder[NavNState] = StateEncoder[NavNState]

  /** Watermark-ordered PREV-k and NEXT-k augmentation: buffer per key until
    * the event-time watermark confirms order (the same discipline as
    * [[matchStream]]); a released row is HELD until `nextDepth` successors
    * have also cleared the watermark, then emits with both rings
    * (predecessors newest-first, successors oldest-first: `next_*(1)` is
    * the immediately following row). Rings are short at the partition
    * edges, so `element_at` past them is NULL — exactly `lag`/`lead`'s
    * semantics. With `nextDepth = 0` nothing is held and `next_*` is empty.
    * State per key = pending buffer + `prevDepth` ring + at most
    * `nextDepth` held rows: all bounded, never proportional to stream
    * length.
    *
    * End-of-input: no in-order row can confirm that a key's last
    * `nextDepth` rows have no more successors, so on unbounded input they
    * stay held. Held rows wait on an event-time timer at
    * [[Bounded.EndTickMs]], which only the end marker's watermark reaches
    * ([[Bounded.withEnd]]); they then emit with short `next_*` rings (NULL
    * past the edge, `lead`'s semantics) — the reference's end-of-input
    * watermark flush (StreamExecMatch's WatermarkAssigner contract). */
  def orderedWithNav(rows: Dataset[KeyedRow], prevDepth: Int, nextDepth: Int,
                     delay: String = "0 seconds"): Dataset[NavRowN] = {
    import rows.sparkSession.implicits._
    require(prevDepth >= 0 && nextDepth >= 0, "navigation depths are non-negative")
    rows
      // +2999 µs shift + wm·1000−1000 release + 3 ms delay compensation:
      // see matchStream's ets note
      .withColumn("ets", timestamp_micros(col("ts") + lit(2999L)))
      .withWatermark("ets", compensatedDelay(delay))
      .as[KeyedRowW]
      .groupByKey(_.key)
      .flatMapGroupsWithState[NavNState, NavRowN](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (_, it, state) =>
          val st = state.getOption.getOrElse(NavNState(Nil, Nil, Nil))
          val wmMs = state.getCurrentWatermarkMs()
          val releaseMicros = wmMs * 1000L - 1000L
          val incoming = it.map(w => KeyedRow(w.key, w.ts, w.id, w.kind, w.value))
          val all = (st.pending ++ incoming).sortBy(r => (r.ts, r.id))
          val (ready, pending) = all.partition(_.ts <= releaseMicros)
          // holds are earlier-released rows awaiting successors; new ready
          // rows extend the ordered run (the sort re-asserts order under
          // the documented ms-granularity contract)
          val buffer = (st.holds ++ ready).sortBy(r => (r.ts, r.id)).toIndexedSeq
          val ended = wmMs >= Bounded.EndTickMs
          val emitN = if (ended) buffer.size else math.max(0, buffer.size - nextDepth)
          var ring = st.ring
          val out = (0 until emitN).map { i =>
            val r = buffer(i)
            val succ = buffer.slice(i + 1, i + 1 + nextDepth)
            val o = NavRowN(r.key, r.ts, r.id, r.kind, r.value,
              ring.map(_.ts), ring.map(_.kind), ring.map(_.value),
              succ.map(_.ts), succ.map(_.kind), succ.map(_.value))
            ring = (r :: ring).take(prevDepth)
            o
          }
          val held = buffer.drop(emitN).toList
          state.update(NavNState(pending, ring, held))
          if (pending.nonEmpty) state.setTimeoutTimestamp(wmMs + 1L)
          else if (held.nonEmpty) state.setTimeoutTimestamp(Bounded.EndTickMs)
          out.iterator
      }
  }

  // ---- named patterns + batch oracle surface over the events table ----

  /** three consecutive error events (strict contiguity, overlapping starts) */
  def errorBurst: Pattern = Pattern(
    Seq(Step("e1", _.kind == "error"),
        Step("e2", _.kind == "error", strict = true),
        Step("e3", _.kind == "error", strict = true)),
    afterMatch = SkipToNextRow)

  /** signup followed (relaxed) by a purchase within 1 hour, non-overlapping */
  def signupFunnel: Pattern = Pattern(
    Seq(Step("signup", _.kind == "signup"),
        Step("purchase", _.kind == "purchase")),
    withinMs = 3600L * 1000000L, // µs — KeyedRow.ts is epoch micros
    afterMatch = SkipPastLastRow)

  /** signup NOT followed by a purchase within 1 hour — a trailing absence
    * (Pattern.notFollowedBy at the end of the pattern, which the reference
    * only allows with a time bound: Pattern.java:379 + NFACompiler). Each
    * surviving signup is an independent match. */
  def abandonedSignup: Pattern = Pattern(
    Seq(Step("signup", _.kind == "signup")),
    withinMs = 3600L * 1000000L,
    tailNot = Some(_.kind == "purchase"))

  /** signup then purchase within 1 hour with NO error in between — an
    * interior absence (signup.notFollowedBy(error).followedBy(purchase)):
    * the error guard kills a run while it waits for the purchase. */
  def cleanFunnel: Pattern = Pattern(
    Seq(Step("signup", _.kind == "signup"),
        Step("purchase", _.kind == "purchase", guardNot = Some(_.kind == "error"))),
    withinMs = 3600L * 1000000L,
    afterMatch = SkipPastLastRow)

  /** a maximal run of STRICTLY consecutive errors whose very next row is a
    * purchase — Pattern.oneOrMore().consecutive() (Pattern.java:279) closed
    * by a `next` step. Under the default relaxed loop the same pattern
    * would bridge errors across intervening rows; consecutive() changes the
    * match set (see CepSpec). */
  def consecutiveErrorRun: Pattern = Pattern(
    Seq(Step("E", _.kind == "error", oneOrMore = true, consecutive = true),
        Step("P", _.kind == "purchase", strict = true)),
    afterMatch = SkipPastLastRow)

  private def eventRows(s: SparkSession, dir: String): Dataset[KeyedRow] = {
    import s.implicits._
    graft.Tables.load(s, dir, "events")
      .select(col("user_id").as("key"),
        expr("unix_micros(cast(ts as timestamp))").as("ts"),
        col("event_id").as("id"), col("event_type").as("kind"), col("value"))
      .as[KeyedRow]
  }

  def qErrorBurst(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    matchBatch(eventRows(s, dir), errorBurst)
      .groupBy($"key".as("user_id")).agg(count(lit(1)).as("n_matches"))
      .orderBy($"user_id")
  }

  def qSignupFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    matchBatch(eventRows(s, dir), signupFunnel)
      .select($"key".as("user_id"), $"start_ts", $"end_ts")
      .orderBy($"user_id", $"start_ts")
  }

  def qAbandonedSignup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    matchBatch(eventRows(s, dir), abandonedSignup)
      .select($"key".as("user_id"), $"start_ts")
      .orderBy($"user_id", $"start_ts")
  }

  def qCleanFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    matchBatch(eventRows(s, dir), cleanFunnel)
      .select($"key".as("user_id"), $"start_ts", $"end_ts")
      .orderBy($"user_id", $"start_ts")
  }

  /** The errorBurst pattern driven through a REAL StreamingQuery: file-
    * stream the events table, run the NFA as the keyed stateful operator
    * ([[matchStream]] — watermark-ordered replay, event-time-timeout flush),
    * drained by [[graft.RelayDir.drain]]. The final watermark reaches max(ts), so every
    * row becomes ready and the emitted match set equals the batch NFA's —
    * which is exactly what the shared DuckDB oracle asserts. This is the
    * reference's deployment shape: CEP as a streaming operator
    * (flink-cep CEPOperatorUtils.java:46), with matchBatch as the
    * bounded-input special case. */
  def qStreamErrorBurst(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val schema = graft.Tables.schema(s, dir, "events")
    // raw parquet NANOS timestamp arrives as long (legacy nanosAsLong conf)
    val rows = graft.Tables.streamTable(s, dir, "events", schema)
      .select(col("user_id").as("key"), graft.Tables.tsAsMicrosLong(schema).as("ts"),
        col("event_id").as("id"), col("event_type").as("kind"), col("value"))
      .as[KeyedRow]
    graft.RelayDir.drain(s, matchStream(rows, errorBurst).toDF(),
        graft.RelayDir.fresh("cep_relay", dir))
      .groupBy($"key".as("user_id")).agg(count(lit(1)).as("n_matches"))
      .orderBy($"user_id")
  }

  def qConsecutiveErrors(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    matchBatch(eventRows(s, dir), consecutiveErrorRun)
      .select($"key".as("user_id"), $"start_ts", $"end_ts",
        size($"ids").cast("long").as("n_rows"))
      .orderBy($"user_id", $"start_ts")
  }

  type QFn = (SparkSession, String) => DataFrame
  def queries: Map[String, QFn] = Map(
    "cep_error_burst" -> (qErrorBurst _),
    "cep_signup_funnel" -> (qSignupFunnel _),
    "cep_abandoned_signup" -> (qAbandonedSignup _),
    "cep_clean_funnel" -> (qCleanFunnel _),
    "cep_consecutive_errors" -> (qConsecutiveErrors _),
    "cep_stream_error_burst" -> (qStreamErrorBurst _)
  )

  /** error-burst is a sliding 3-row check via lag; signup-funnel's
    * skip-past-last-row greedy matching is a sequential scan, reproduced in
    * SQL as a recursive CTE over candidate (signup, purchase) pairs: each
    * recursion step picks, per user, the earliest-completing (then
    * earliest-started) pair whose signup lies strictly after the previous
    * match's purchase row — exactly the NFA's emit-then-drop-overlap rule. */
  def oracles: Map[String, String] = Map(
    "cep_error_burst" ->
      """SELECT user_id, count(*) AS n_matches FROM (
           SELECT user_id, event_type,
                  lag(event_type, 1) OVER w AS p1,
                  lag(event_type, 2) OVER w AS p2
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         WHERE event_type = 'error' AND p1 = 'error' AND p2 = 'error'
         GROUP BY user_id ORDER BY user_id""",
    // streaming run must equal the batch NFA once the watermark passes max(ts)
    "cep_stream_error_burst" ->
      """SELECT user_id, count(*) AS n_matches FROM (
           SELECT user_id, event_type,
                  lag(event_type, 1) OVER w AS p1,
                  lag(event_type, 2) OVER w AS p2
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         WHERE event_type = 'error' AND p1 = 'error' AND p2 = 'error'
         GROUP BY user_id ORDER BY user_id""",
    // trailing absence: a signup is a match iff NO purchase follows it (in
    // (ts, id) scan order) within the hour
    "cep_abandoned_signup" ->
      """WITH ev AS (
           SELECT user_id, epoch_us(ts) AS ets, event_id, event_type,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events)
         SELECT s.user_id, s.ets AS start_ts
         FROM ev s
         WHERE s.event_type = 'signup' AND NOT EXISTS (
           SELECT 1 FROM ev p
           WHERE p.user_id = s.user_id AND p.event_type = 'purchase'
             AND p.rn > s.rn AND p.ets - s.ets <= 3600000000)
         ORDER BY s.user_id, start_ts""",
    // interior absence: the funnel recursion restricted to error-free
    // (signup, purchase) pairs — the guard kills a waiting run on any error
    "cep_clean_funnel" ->
      """WITH RECURSIVE
         ev AS (
           SELECT user_id, epoch_us(ts) AS ets, event_id, event_type,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events),
         pairs AS (
           SELECT s.user_id, s.rn AS s_rn, s.ets AS s_ts, p.rn AS p_rn, p.ets AS p_ts
           FROM ev s JOIN ev p ON s.user_id = p.user_id
           WHERE s.event_type = 'signup' AND p.event_type = 'purchase'
             AND s.rn < p.rn AND p.ets - s.ets <= 3600000000
             AND NOT EXISTS (
               SELECT 1 FROM ev e
               WHERE e.user_id = s.user_id AND e.event_type = 'error'
                 AND e.rn > s.rn AND e.rn < p.rn)),
         m AS (
           SELECT user_id, CAST(NULL AS BIGINT) AS start_ts, CAST(NULL AS BIGINT) AS end_ts,
                  CAST(0 AS BIGINT) AS e_rn
           FROM (SELECT DISTINCT user_id FROM pairs)
           UNION ALL
           SELECT p.user_id, p.s_ts, p.p_ts, p.p_rn
           FROM m JOIN pairs p ON p.user_id = m.user_id AND p.s_rn > m.e_rn
           QUALIFY row_number() OVER (PARTITION BY p.user_id ORDER BY p.p_rn, p.s_rn) = 1
         )
         SELECT user_id, start_ts, end_ts FROM m WHERE start_ts IS NOT NULL
         ORDER BY user_id, start_ts""",
    // consecutive() loop: gaps-and-islands — maximal runs of adjacent error
    // rows (per user, (ts, id) order) whose immediately-next row is a
    // purchase; greedy + SKIP PAST LAST ROW emits exactly one match per
    // qualifying island, anchored at the island start
    "cep_consecutive_errors" ->
      """WITH ev AS (
           SELECT user_id, epoch_us(ts) AS ets, event_id, event_type,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events),
         err AS (
           SELECT *, rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS grp
           FROM ev WHERE event_type = 'error'),
         island AS (
           SELECT user_id, grp, min(ets) AS start_ts, max(rn) AS end_rn,
                  count(*) AS n_err
           FROM err GROUP BY user_id, grp)
         SELECT i.user_id, i.start_ts, p.ets AS end_ts, i.n_err + 1 AS n_rows
         FROM island i JOIN ev p ON p.user_id = i.user_id AND p.rn = i.end_rn + 1
         WHERE p.event_type = 'purchase'
         ORDER BY i.user_id, i.start_ts""",
    "cep_signup_funnel" ->
      """WITH RECURSIVE
         ev AS (
           SELECT user_id, epoch_us(ts) AS ets, event_id, event_type,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events),
         pairs AS (
           SELECT s.user_id, s.rn AS s_rn, s.ets AS s_ts, p.rn AS p_rn, p.ets AS p_ts
           FROM ev s JOIN ev p ON s.user_id = p.user_id
           WHERE s.event_type = 'signup' AND p.event_type = 'purchase'
             AND s.rn < p.rn AND p.ets - s.ets <= 3600000000),
         m AS (
           SELECT user_id, CAST(NULL AS BIGINT) AS start_ts, CAST(NULL AS BIGINT) AS end_ts,
                  CAST(0 AS BIGINT) AS e_rn
           FROM (SELECT DISTINCT user_id FROM pairs)
           UNION ALL
           SELECT p.user_id, p.s_ts, p.p_ts, p.p_rn
           FROM m JOIN pairs p ON p.user_id = m.user_id AND p.s_rn > m.e_rn
           QUALIFY row_number() OVER (PARTITION BY p.user_id ORDER BY p.p_rn, p.s_rn) = 1
         )
         SELECT user_id, start_ts, end_ts FROM m WHERE start_ts IS NOT NULL
         ORDER BY user_id, start_ts"""
  )
}
