package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.graftshim.GraftShim.{ckptNoStats, release}

/** The driver loop of the round-based DataFrame fixpoints. Each round
  * output, and each intermediate pinned with [[Fixpoint.Round.ckpt]], is
  * an eager stats-dropped checkpoint, so lineage and plan stay flat. The
  * last two states stay cached; older states, a round's intermediates
  * once its output exists, and on a throw all the loop's checkpoints are
  * freed with `GraftShim.release`. The caller's `init` is never freed.
  * Convergence certificates stay with the operators (count, (count,
  * sum) or set equality — each sound for its own kind of round); an
  * [[untilStable]] certificate is an aggregate observed on the round's
  * own checkpoint job, so reading it runs no Spark job.
  */
object Fixpoint {

  /** The round being computed; `index` counts from 1. */
  final class Round private[Fixpoint] (val index: Int) {
    private[Fixpoint] var pinned = List.empty[DataFrame]

    /** Checkpoint an intermediate; released once the round's output exists. */
    def ckpt(df: DataFrame): DataFrame = {
      pinned ::= ckptNoStats(df, eager = true)
      pinned.head
    }
  }

  /** Run exactly `n` rounds and return the states after rounds n−1 and n
    * (`init` is round 0). Both stay cached and become the caller's.
    */
  def rounds(init: DataFrame, n: Int)(
      step: (Round, DataFrame) => DataFrame): (DataFrame, DataFrame) =
    loop(init, step, None)((done, _) => done < n)

  /** Run rounds until `changed`, an aggregate over the round's output, is
    * 0 and return that state. A round past `maxRounds` throws
    * `IllegalArgumentException(guard)` instead.
    */
  def untilStable(init: DataFrame, maxRounds: Int, guard: => String)(
      step: (Round, DataFrame) => DataFrame)(changed: Column): DataFrame = {
    val (prev, last) = loop(init, step, Some(changed)) { (done, n) =>
      val more = done == 0 || n > 0
      require(!more || done < maxRounds, guard)
      more
    }
    if (prev ne init) release(prev)
    last
  }

  /** Checkpoint `df` eagerly and read `metric`, an aggregate over its
    * rows, from the checkpoint's own job (`Dataset.observe`); a null
    * reads as 0.
    */
  private[operators] def measured(df: DataFrame,
      metric: Column): (DataFrame, Long) = {
    val obs = Observation()
    val ck = ckptNoStats(df.observe(obs, metric.as("m")), eager = true)
    (ck, Option(obs.get("m")).fold(0L)(_.asInstanceOf[Number].longValue))
  }

  private def loop(init: DataFrame, step: (Round, DataFrame) => DataFrame,
      changed: Option[Column])(
      more: (Int, Long) => Boolean): (DataFrame, DataFrame) = {
    def releaseOwn(df: DataFrame): Unit = if (df ne init) release(df)
    var (prev, last, done, n) = (init, init, 0, 0L)
    try {
      while (more(done, n)) {
        val round = new Round(done + 1)
        val (next, m) = try {
          val out = step(round, last)
          changed.fold((ckptNoStats(out, eager = true), 0L))(measured(out, _))
        } finally round.pinned.foreach(release)
        releaseOwn(prev)
        prev = last; last = next; done += 1; n = m
      }
      (prev, last)
    } catch { case e: Throwable => releaseOwn(prev); releaseOwn(last); throw e }
  }
}
