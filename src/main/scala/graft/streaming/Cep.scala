package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Generalized CEP pattern combinator — the reusable form of the bespoke
 * detector state machines in [[StreamDetectors]]. The reference exposes
 * this as FlinkCEP's fluent API (`Pattern.<begin>("fail").where(...)
 * .times(2).consecutive().within(Time.seconds(2))` —
 * gmall-login-fail/.../LoginFailAppWithCep.java:61-75; create→pay
 * `.followedBy` with timeout side-output —
 * gmall-order-pay/.../OrderTimeoutAppWithCep.java:46-56). Here the same
 * surface compiles to ONE shared NFA step function executed by
 * `flatMapGroupsWithState` (streaming) or an ordered fold (batch) — a
 * third pattern is a new `Pattern` expression, not a new state machine.
 *
 * Semantics (FlinkCEP-aligned; superset of what the reference uses):
 *  - `begin/next/followedBy(name)(pred)` — stages in sequence. `next` is
 *    strict contiguity (a non-matching event kills the partial match),
 *    `followedBy` is relaxed (skip-till-next-match: non-matching events
 *    are ignored, a matching event always advances — overlapping
 *    skip-till-any runs are not enumerated).
 *  - `.times(n)` — the last stage must match n events; `.times(min,max)`
 *    emits a match at EVERY length in the range; `.optional()` matches
 *    with and without the stage (both compile to expansion alternatives
 *    run side by side); `.consecutive()` makes a stage's repetition
 *    strictly adjacent (any intervening non-match resets the run,
 *    LoginFailApp2.java:59-99 semantics).
 *  - `.notFollowedBy(name)(pred)` — negative terminal stage: the pattern
 *    matches when its window closes without an accepted event; requires
 *    `within`.
 *  - `.within(sec)` — last-to-first event-time span of a full match is
 *    ≤ `sec`; an expired partial emits a `status = "timeout"` row
 *    carrying what it had consumed (FlinkCEP's timeout side-output;
 *    filter `status = "matched"` if unwanted).
 *  - A new run may start at EVERY stage-0-matching event, so sliding
 *    matches are emitted exactly like the reference's per-pair alarms
 *    (f1,f2,f3 → (f1,f2),(f2,f3)).
 *
 * Scale: state per key is the open-run list — bounded by `maxPartials`
 * (oldest evicted as an observable `status = "dropped"` row, same
 * backstop as FlinkCEP's state TTL advice), each
 * run holding only (stage, per-event ts/names), never event payloads.
 * With `within` set, runs are GC'd by event-time timers driven by the
 * watermark, so keys that stop emitting cannot leak state; without
 * `within` (like FlinkCEP's unwindowed patterns) open runs persist
 * until more events arrive for the key — still ≤ `maxPartials` rows
 * per key, but prefer a window for unbounded key spaces. Everything is
 * product-encoded — no kryo blobs in the state store.
 */
object Cep {

  /** One NFA stage: `pred` must accept one of `counts` repetition
    * totals (a singleton for plain stages; a range for `times(m,n)`;
    * 0 included for `optional()`); `strictInside` = contiguity between
    * the stage's own events, `strictBefore` = contiguity at the
    * boundary from the previous stage. `times` is the fixed count of
    * ONE compiled expansion (see [[Pattern.expansions]]). */
  final case class Stage[E](name: String, pred: E => Boolean, times: Int,
                            strictInside: Boolean, strictBefore: Boolean,
                            counts: Seq[Int] = Nil,
                            negated: Boolean = false) {
    private[Cep] def allowedCounts: Seq[Int] =
      if (counts.nonEmpty) counts else Seq(times)
  }

  final class Pattern[E] private[Cep] (
      private[Cep] val stages: Vector[Stage[E]],
      private[Cep] val withinSec: Option[Long],
      private[Cep] val maxPartials: Int,
      private[Cep] val unmatchedPred: Option[E => Boolean] = None)
    extends Serializable {

    /** Range/optional quantifiers compile to the Cartesian product of
      * per-stage fixed counts — one plain stage vector per alternative,
      * 0-count stages dropped. The NFA runs every expansion's runs side
      * by side, which IS FlinkCEP's emit-every-length semantics. */
    private[Cep] lazy val expansions: Vector[Vector[Stage[E]]] = {
      val product = stages.foldLeft(Vector(Vector.empty[Stage[E]])) {
        (acc, st) =>
          for (prefix <- acc; c <- st.allowedCounts.toVector)
            yield if (c == 0) prefix else prefix :+ st.copy(times = c, counts = Nil)
      }
      val nonEmpty = product.filter(_.nonEmpty)
      require(nonEmpty.nonEmpty, "pattern must have at least one required stage")
      require(stages.init.forall(!_.negated),
        "notFollowedBy must be the final stage")
      require(!stages.last.negated || withinSec.isDefined,
        "notFollowedBy requires within() — an unbounded 'never followed' is undecidable")
      require(nonEmpty.forall(alt => !alt.head.negated),
        "a pattern cannot START with notFollowedBy")
      require(nonEmpty.length <= Pattern.MaxExpansions,
        s"quantifier expansion produced ${nonEmpty.length} alternatives " +
          s"(max ${Pattern.MaxExpansions}) — narrow the times()/optional() ranges")
      nonEmpty.distinct
    }

    private def mapLast(f: Stage[E] => Stage[E]) =
      new Pattern(stages.init :+ f(stages.last), withinSec, maxPartials,
        unmatchedPred)

    /** AND-refine the last stage's predicate (FlinkCEP `.where` chains). */
    def where(p: E => Boolean): Pattern[E] =
      mapLast(s => s.copy(pred = e => s.pred(e) && p(e)))

    /** The last stage must match `n` events. */
    def times(n: Int): Pattern[E] = {
      require(n >= 1, s"times must be >= 1, got $n")
      mapLast(_.copy(times = n, counts = Nil))
    }

    /** The last stage must match between `min` and `max` events
      * (FlinkCEP `times(from, to)`): every length in the range is a
      * match and all are emitted, one expansion per length. */
    def times(min: Int, max: Int): Pattern[E] = {
      require(min >= 1 && max >= min,
        s"times range must satisfy 1 <= min <= max, got ($min, $max)")
      mapLast(_.copy(counts = (min to max).toSeq))
    }

    /** The last stage may be absent entirely (FlinkCEP `optional`):
      * matches both with and without it are emitted. */
    def optional(): Pattern[E] =
      mapLast(st => st.copy(counts = 0 +: st.allowedCounts.filter(_ > 0)))

    /** Strict contiguity inside the last stage's repetition. */
    def consecutive(): Pattern[E] = mapLast(_.copy(strictInside = true))

    /** Append a stage with STRICT contiguity to the previous one. */
    def next(name: String)(p: E => Boolean): Pattern[E] =
      new Pattern(stages :+ Stage(name, p, 1, strictInside = false,
        strictBefore = true), withinSec, maxPartials, unmatchedPred)

    /** Append a stage with RELAXED contiguity (skip-till-next-match). */
    def followedBy(name: String)(p: E => Boolean): Pattern[E] =
      new Pattern(stages :+ Stage(name, p, 1, strictInside = false,
        strictBefore = false), withinSec, maxPartials, unmatchedPred)

    /** Append a NEGATIVE terminal stage (FlinkCEP `notFollowedBy`): the
      * pattern matches when the preceding stages complete and NO event
      * accepted by `p` arrives before the within-window closes — the
      * match carries the positive events; a `p` event kills the run
      * silently. Must be the last stage and requires `within` (the only
      * way "never followed" becomes decidable). */
    def notFollowedBy(name: String)(p: E => Boolean): Pattern[E] =
      new Pattern(stages :+ Stage(name, p, 1, strictInside = false,
        strictBefore = false, negated = true), withinSec, maxPartials,
        unmatchedPred)

    /** Whole-match first-to-last event-time span bound (seconds). */
    def within(sec: Long): Pattern[E] = {
      require(sec > 0, s"within must be positive, got $sec")
      new Pattern(stages, Some(sec), maxPartials, unmatchedPred)
    }

    /** Open-run cap per key. Evicted (oldest-first) runs are emitted as
      * `status = "dropped"` rows carrying the trail they had consumed —
      * an event storm that sheds runs is visible in the output stream,
      * never a silent match loss. Filter `status = "dropped"` if
      * unwanted; count it to alarm on cap pressure. */
    def withMaxPartials(n: Int): Pattern[E] = {
      require(n >= 1, "maxPartials must be >= 1")
      new Pattern(stages, withinSec, n, unmatchedPred)
    }

    /** Dead-letter side output: also emit a `status = "unmatched"` row
      * for every event accepted by `p` that touched NO run at all — it
      * advanced none, started none, disproved none, and triggered no
      * expiry. This is how "event with no preceding context" escapes a
      * pure pattern (e.g. a pay with no live create —
      * OrderTimeoutAppWithState.java:95-99's "payed timeout" branch);
      * filter `status = "unmatched"` downstream if unwanted. */
    def emitUnmatched(p: E => Boolean): Pattern[E] =
      new Pattern(stages, withinSec, maxPartials, Some(p))
  }

  object Pattern {
    /** Start a pattern: first stage, relaxed by definition. */
    def begin[E](name: String)(p: E => Boolean): Pattern[E] =
      new Pattern(Vector(Stage(name, p, 1, strictInside = false,
        strictBefore = false)), None, 256)

    private[Cep] val MaxExpansions = 32
  }

  /** An open run: expansion alternative + position (stage,
    * taken-in-stage) + consumed-event (timestamp, stage-name) trail.
    * Product-encodable state. */
  final case class Partial(alt: Int, stage: Int, taken: Int,
                           ts: Seq[Long], names: Seq[String])

  final case class NfaState(partials: Seq[Partial])

  /** One detection outcome: per-consumed-event stage names/timestamps
    * in match order. `status` ∈ "matched" / "timeout" / "dropped"
    * (evicted by `maxPartials`) / "unmatched" (dead-letter, see
    * [[Pattern.emitUnmatched]]). */
  final case class CepMatch[K](key: K, status: String,
                               stageNames: Seq[String], stageTs: Seq[Long],
                               firstTs: Long, lastTs: Long)

  private def result[K](key: K, status: String, p: Partial): CepMatch[K] =
    CepMatch(key, status, p.names, p.ts, p.ts.head, p.ts.last)

  /** An expired run parked on a NEGATED final stage is the pattern
    * CONFIRMED ("never followed within the window") — a match carrying
    * the positive events; any other expired run is a plain timeout. */
  private def expiredResult[E, K](pat: Pattern[E], key: K,
                                  p: Partial): CepMatch[K] = {
    val alt = pat.expansions(p.alt)
    val status =
      if (p.stage < alt.length && alt(p.stage).negated && p.taken == 0)
        "matched"
      else "timeout"
    result(key, status, p)
  }

  /** Expire runs whose within-window closed before `nowSec`; returns
    * (survivors, expired). With no `within` nothing ever expires. */
  private def expire[E](pat: Pattern[E], partials: Seq[Partial],
                        nowSec: Long): (Seq[Partial], Seq[Partial]) =
    pat.withinSec match {
      case None => (partials, Nil)
      case Some(w) => partials.partition(p => nowSec - p.ts.head <= w)
    }

  /** One NFA step: feed event `e` at time `tsSec` to every open run and
    * maybe start a new one. Returns (open runs, completed matches,
    * timed-out runs, capped-out runs, touched) where `touched` records
    * whether the event interacted with ANY run — advanced one, started
    * one, disproved a negated stage, broke contiguity, or triggered an
    * expiry (the `emitUnmatched` dead-letter predicate fires only on
    * untouched events). Capped-out runs are the OLDEST open runs evicted
    * by `maxPartials`; callers surface them as `status = "dropped"`
    * rows so an event storm that sheds runs is observable, never silent.
    * Shared verbatim by the streaming and batch paths — stream ≡ batch
    * holds by construction. */
  private[streaming] def step[E](pat: Pattern[E], partials: Seq[Partial],
                                 e: E, tsSec: Long)
      : (Seq[Partial], Seq[Partial], Seq[Partial], Seq[Partial], Boolean) = {
    val (live, timedOut) = expire(pat, partials, tsSec)
    var touched = timedOut.nonEmpty
    val open = ArrayBuffer.empty[Partial]
    val done = ArrayBuffer.empty[Partial]
    def advance(p: Partial): Unit = {
      val alt = pat.expansions(p.alt)
      val st = alt(p.stage)
      val moved = p.copy(ts = p.ts :+ tsSec, names = p.names :+ st.name)
      val (nStage, nTaken) =
        if (p.taken + 1 == st.times) (p.stage + 1, 0) else (p.stage, p.taken + 1)
      val nxt = moved.copy(stage = nStage, taken = nTaken)
      if (nStage == alt.length) done += nxt else open += nxt
    }
    live.foreach { p =>
      val st = pat.expansions(p.alt)(p.stage)
      if (st.pred(e)) {
        touched = true
        // a matching event on a NEGATED stage disproves the pattern —
        // the run dies silently (neither match nor timeout)
        if (!st.negated) advance(p)
      } else {
        // mid-repetition the stage's own contiguity applies; at a stage
        // boundary (taken == 0) the boundary kind (next vs followedBy)
        val strictHere = if (p.taken > 0) st.strictInside else st.strictBefore
        if (!strictHere) open += p
        else touched = true // contiguity broken — run dies (not a timeout)
      }
    }
    // a stage-0 match may begin a fresh run in EVERY expansion whose
    // first stage accepts the event (sliding matches, all alternatives)
    pat.expansions.indices.foreach { a =>
      if (pat.expansions(a).head.pred(e)) {
        touched = true
        advance(Partial(a, 0, 0, Vector.empty, Vector.empty))
      }
    }
    val overflow = math.max(0, open.length - pat.maxPartials)
    (open.drop(overflow).toSeq, done.toSeq, timedOut,
      open.take(overflow).toSeq, touched)
  }

  /** The `emitUnmatched` dead-letter row for an event no run touched. */
  private def unmatchedResult[K](key: K, tsSec: Long): CepMatch[K] =
    CepMatch(key, "unmatched", Seq("unmatched"), Seq(tsSec), tsSec, tsSec)

  /**
   * Streaming detection: events keyed by `keyOf`, event time (epoch sec)
   * in field `tsCol` (also read per-event by `tsOf` — same field, typed
   * access). Emits matches as they complete and, when the pattern has
   * `within`, timeout rows once a run's window provably closed — either
   * a later event for the key arrives past the deadline, or the
   * watermark passes it (event-time timer, so idle keys expire too).
   * Events inside a micro-batch are sorted by (ts, tieBreak).
   */
  def detect[E: Encoder, K: Encoder](events: Dataset[E], keyOf: E => K,
                                     tsCol: String, tsOf: E => Long,
                                     pattern: Pattern[E],
                                     tieBreak: E => String = (_: E) => "",
                                     watermarkDelay: String = "2 seconds")(
      implicit om: Encoder[CepMatch[K]]): Dataset[CepMatch[K]] = {
    implicit val stateEnc: Encoder[NfaState] = Encoders.product[NfaState]
    implicit val pairEnc: Encoder[(E, java.sql.Timestamp)] =
      Encoders.tuple(implicitly[Encoder[E]], Encoders.TIMESTAMP)
    // The event rides inside a struct column NEXT TO the watermark
    // column: the event-time attribute must survive into the stateful
    // operator's input (Spark's unsupported-operation check rejects
    // EventTimeTimeout without a watermarked column in scope), but
    // appending it flat to E's own columns would break positional
    // binding for tuple-encoded E and clobber a case-class field named
    // like the helper. Struct-wrapping keeps E intact whatever its shape.
    events
      .select(struct(col("*")).as("_1"),
        timestamp_seconds(col(tsCol)).as("_2"))
      .eventTimeWatermark("_2", watermarkDelay)
      .as[(E, java.sql.Timestamp)]
      .groupByKey(p => keyOf(p._1))
      .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.EventTimeTimeout) {
        (key: K, pairs: Iterator[(E, java.sql.Timestamp)],
         state: GroupState[NfaState]) =>
          val pending = state.getOption.map(_.partials).getOrElse(Nil)
          if (state.hasTimedOut) {
            val wmSec = state.getCurrentWatermarkMs() / 1000L
            val (live, expired) = expire(pattern, pending, wmSec)
            if (live.isEmpty) state.remove()
            else {
              state.update(NfaState(live))
              armTimer(state, pattern, live)
            }
            expired.iterator.map(expiredResult(pattern, key, _))
          } else {
            val sorted = pairs.map(_._1).toSeq.sortBy(e => (tsOf(e), tieBreak(e)))
            var partials = pending
            val out = ArrayBuffer.empty[CepMatch[K]]
            sorted.foreach { e =>
              val (open, done, timedOut, dropped, touched) =
                step(pattern, partials, e, tsOf(e))
              partials = open
              done.foreach(out += result(key, "matched", _))
              timedOut.foreach(out += expiredResult(pattern, key, _))
              dropped.foreach(out += result(key, "dropped", _))
              if (!touched && pattern.unmatchedPred.exists(_(e)))
                out += unmatchedResult(key, tsOf(e))
            }
            if (partials.isEmpty) { if (state.exists) state.remove() }
            else {
              state.update(NfaState(partials))
              armTimer(state, pattern, partials)
            }
            out.iterator
          }
      }
  }

  private def armTimer[E](state: GroupState[NfaState], pat: Pattern[E],
                          partials: Seq[Partial]): Unit =
    pat.withinSec.foreach { w =>
      val deadlineMs = (partials.map(_.ts.head).min + w) * 1000L + 1000L
      // a timer at/behind the watermark throws — clamp just past it
      state.setTimeoutTimestamp(
        math.max(deadlineMs, state.getCurrentWatermarkMs() + 1L))
    }

  /**
   * Distributed batch detection: one ordered NFA fold per key via
   * `flatMapGroups` — the batch twin of [[detect]] (shared step
   * function, so batch ≡ stream by construction). One shuffle on the
   * key; per-key state is the open-run list, events sorted only within
   * a key's group. `within`/`tsOf` share whatever time unit the caller
   * uses (seconds, µs — only consistency matters in batch).
   */
  def detectBatch[E: Encoder, K: Encoder](events: Dataset[E], keyOf: E => K,
                                          tsOf: E => Long,
                                          pattern: Pattern[E],
                                          tieBreak: E => Long = (_: E) => 0L)(
      implicit om: Encoder[CepMatch[K]]): Dataset[CepMatch[K]] =
    events.groupByKey(keyOf).flatMapGroups { (key: K, rows: Iterator[E]) =>
      detectOrdered(key, rows.toSeq.sortBy(e => (tsOf(e), tieBreak(e))),
        tsOf, pattern).iterator
    }

  /**
   * Batch detection over an already-ordered per-key event sequence — the
   * same step function folded; end-of-input expires every open run via a
   * +∞ probe (a bounded input IS a closed watermark). Doubles as the
   * streaming path's oracle in tests.
   */
  def detectOrdered[E, K](key: K, events: Seq[E], tsOf: E => Long,
                          pattern: Pattern[E]): Seq[CepMatch[K]] = {
    var partials: Seq[Partial] = Nil
    val out = ArrayBuffer.empty[CepMatch[K]]
    events.foreach { e =>
      val (open, done, timedOut, dropped, touched) =
        step(pattern, partials, e, tsOf(e))
      partials = open
      done.foreach(out += result(key, "matched", _))
      timedOut.foreach(out += expiredResult(pattern, key, _))
      dropped.foreach(out += result(key, "dropped", _))
      if (!touched && pattern.unmatchedPred.exists(_(e)))
        out += unmatchedResult(key, tsOf(e))
    }
    if (pattern.withinSec.isDefined)
      partials.foreach(out += expiredResult(pattern, key, _))
    out.toSeq
  }
}
