package graft.util

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum}

/** The one driver for iterative DataFrame operators: it owns the round
  * loop, the runaway guard, the convergence witness and the lifecycle of
  * every generation. Operators supply step bodies only. A loop is a set
  * of named frames plus phases; a phase builds one frame's next
  * generation, and one pass over the phases is a round.
  *
  * One checkpoint policy, read from the plan, never from a flag:
  *  - a generation that a convergence witness reads, or that its first
  *    consumer's plan reads more than once, rotates through a tracked
  *    eager checkpoint every round; left lazy, every read replays the
  *    generation history and the plan doubles each round;
  *  - any other generation stays lazy and is cut every [[CutEvery]]th
  *    round (not on a fixed loop's last), bounding the plan without a
  *    materialization job per round.
  * A checkpoint is freed once its successor is materialized; the
  * caller's init frames are never freed. Attribution is exact ([[Lineage.checkpoint]]),
  * so a lazily cached loop invariant survives every rotation.
  */
object Fixpoint {

  /** Rounds between cuts of a generation that is read once. */
  val CutEvery = 8

  private val Single = "gen"

  /** A phase: the frame it replaces, and its next generation. */
  type Phase = (String, Run => DataFrame)

  /** The newest generation of each frame: the state phases read, and
    * the loop's result once it stops. */
  final class Run private[Fixpoint] (
      op: String, init: Seq[(String, DataFrame)], witnessed: Boolean) {
    // held: the loop's checkpoint behind df; everyRound: the policy,
    // fixed by a witness or else undecided until a consumer reads df
    private final class Frame(var df: DataFrame) {
      var held: Option[Lineage.Gen] = None
      var everyRound: Option[Boolean] = if (witnessed) Some(true) else None
    }
    private val frames = mutable.LinkedHashMap.from(
      init.map { case (name, df) => name -> new Frame(df) })
    private var done = 0

    /** Completed rounds. */
    def rounds: Int = done
    def apply(name: String): DataFrame = frames(name).df
    def get(name: String): Option[DataFrame] = frames.get(name).map(_.df)
    /** The frame of a single-frame loop. */
    def df: DataFrame = apply(Single)

    /** Drop the loop's checkpoints; its frames are unreadable after. */
    def free(): Unit = frames.values.foreach { f =>
      f.held.foreach(Lineage.free)
      f.held = None
    }

    /** Build `result` under the policy: a generation read twice is
      * checkpointed first. */
    def read(result: Run => DataFrame): DataFrame = build(result)

    /** Exit hygiene: materialize `result`, then free the generations. */
    def finish(result: Run => DataFrame): DataFrame = {
      val out = Lineage.checkpoint(build(result))
      free()
      out.df
    }

    private def rotate(f: Frame): Unit = {
      val g = Lineage.checkpoint(f.df)
      f.held.foreach(Lineage.free)
      f.held = Some(g)
      f.df = g.df
    }

    /** Build a consumer, deciding the policy of each undecided frame it
      * reads (a twice-read init is checkpointed as the loop's own). */
    private def build(consumer: Run => DataFrame): DataFrame = {
      val out = consumer(this)
      val open = frames.values.filter(_.everyRound.isEmpty)
      if (open.isEmpty) return out
      // maximal subtrees only: a rename projection over the generation
      // has the same result as the generation, yet reads it once
      def reads(q: LogicalPlan, p: LogicalPlan): Int =
        if (q.sameResult(p)) 1 else q.children.map(reads(_, p)).sum
      val twice = open.filter { f =>
        val n = reads(out.queryExecution.analyzed, f.df.queryExecution.analyzed)
        if (n > 0) f.everyRound = Some(n > 1)
        n > 1
      }
      twice.foreach(rotate)
      if (twice.isEmpty) out else consumer(this)
    }

    private[Fixpoint] def loop(
        phases: Seq[Phase],
        maxRounds: Int,
        settled: Option[Run => Boolean]): Run = {
      def more = settled.fold(done < maxRounds)(!_(this))
      while (more) {
        if (done >= maxRounds) {
          free()
          throw new IllegalStateException(
            s"$op did not reach a fixpoint in $maxRounds rounds")
        }
        done += 1
        phases.foreach { case (name, phase) =>
          val next = build(phase)
          val f = frames.getOrElseUpdate(name, new Frame(next))
          f.df = next
          if (f.everyRound.contains(true) ||
              (done % CutEvery == 0 && done < maxRounds)) rotate(f)
        }
      }
      this
    }
  }

  /** `phases` in order each round, from `init`: exactly `maxRounds`
    * rounds, or until `settled` holds (init included); the guard throws
    * rather than start round `maxRounds + 1`. */
  def loop(
      op: String,
      maxRounds: Int,
      init: Seq[(String, DataFrame)],
      phases: Seq[Phase],
      settled: Option[Run => Boolean] = None): Run =
    new Run(op, init, settled.nonEmpty).loop(phases, maxRounds, settled)

  /** Exactly `rounds` applications of `step`. */
  def iterate(op: String, rounds: Int, init: DataFrame)(
      step: DataFrame => DataFrame): Run =
    loop(op, rounds, Seq(Single -> init), Seq(Single -> (r => step(r.df))))

  /** Apply `step` until `done` holds of the current generation. */
  def until(op: String, maxRounds: Int, init: DataFrame)(
      done: DataFrame => Boolean)(step: DataFrame => DataFrame): Run =
    loop(op, maxRounds, Seq(Single -> init), Seq(Single -> (r => step(r.df))),
      Some(r => done(r.df)))

  /** Apply `step` until the witness of column `on`, (row count, exact
    * sum), repeats: a fixpoint witness for monotone relaxations (min
    * label, min distance). One 1-row action per generation. */
  def converge(op: String, maxRounds: Int, init: DataFrame, on: String)(
      step: DataFrame => DataFrame): Run = {
    var last: Option[(Long, java.math.BigDecimal)] = None
    until(op, maxRounds, init) { g =>
      val row = g.agg(count(lit(1)), coalesce(sum(col(on).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head()
      val w = Some((row.getLong(0), row.getDecimal(1)))
      val same = w == last
      last = w
      same
    }(step)
  }
}
