package graft.util

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** The one runner for iterative DataFrame loops: each round is ONE
  * eager materializing Spark job, and everything else a loop needs
  * rides on that job.
  *
  *  - the round roots a fresh plan through [[Checkpoints.root]], so it
  *    honors the `graft.checkpoint.dir` durability dial;
  *  - its row count is an [[Observation]] on that same job, not a
  *    second `count()` job;
  *  - the superseded round is freed with [[Checkpoints.free]] once the
  *    next round is materialized and the convergence test has run;
  *  - the next round's width is [[Sessions.partsForRows]] of this
  *    round's count, and a loop that opts in (`aqeGate`) materializes
  *    single-partition rounds with AQE off ([[Sessions.withAqeOff]]);
  *  - the round cap fails loudly with the loop's own message instead
  *    of ever returning a partial result;
  *  - each round logs (rows, width, seconds) at INFO under
  *    `graft.util.Fixpoint`.
  */
object Fixpoint {

  /** One materialized round: the rooted relation, its row count, the
    * width [[Sessions.partsForRows]] derives from that count, and the
    * round number (0 = the rooted initial relation). */
  final case class Round(df: DataFrame, rows: Long, parts: Int, n: Int)

  private val log = org.slf4j.LoggerFactory.getLogger("graft.util.Fixpoint")

  /** Iterate `step` from `init` until `converged(prev, next)` holds and
    * return the last round; the caller owns (and may free) its `df`.
    * `step` sees the current round and returns the next round's lazy
    * plan. More than `maxRounds` rounds fails with `capMessage`.
    * `aqeGate` applies the single-partition AQE-off gate to round
    * materializations only — never to `init` or to `converged`. */
  def iterate(name: String, init: DataFrame, maxRounds: Int,
              capMessage: => String, aqeGate: Boolean = false)
             (step: Round => DataFrame)
             (converged: (Round, Round) => Boolean): Round = {
    val s = init.sparkSession
    // root eagerly and count in the same job
    def rooted(df: DataFrame, n: Int): Round = {
      val obs = Observation()
      val r = Checkpoints.root(df.observe(obs, count(lit(1)).as("rows")))
      val rows = obs.get("rows").asInstanceOf[Long]
      Round(r, rows, Sessions.partsForRows(s, rows), n)
    }
    var cur = rooted(init, 0)
    var done = false
    while (!done) {
      val n = cur.n + 1
      if (n > maxRounds) throw new IllegalStateException(capMessage)
      val t0 = System.nanoTime()
      val next = Sessions.withAqeOff(s, off = aqeGate && cur.parts == 1) {
        rooted(step(cur), n)
      }
      done = converged(cur, next)
      Checkpoints.free(cur.df)
      cur = next
      log.info(f"$name round=$n rows=${next.rows} parts=${next.parts} " +
        f"took=${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    cur
  }
}
