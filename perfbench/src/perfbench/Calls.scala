package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One step of a timed call. A [[Sink]] builds a DataFrame through the
  * engine's API and consumes it with the rows+sig sink; an [[Effect]] is an
  * eager engine call (a write, a validation) that returns counts. */
sealed trait Step { def name: String }

/** `extras` are per-row columns summed (as decimals) in the same aggregate
  * that takes rows+sig, so invariant checks cost no extra job. */
final case class Sink(name: String, build: () => DataFrame,
                      extras: Seq[Column] = Nil) extends Step

final case class Effect(name: String, run: () => Seq[Long]) extends Step

/** Outcome of a step: row count, order-free signature, extra sums. */
final case class Out(rows: Long, sig: Long, extras: Seq[BigInt])

/** A timed call: `kind` names it in timings and in the pinned table;
  * `inputRows` is the rows handed to the engine. */
final case class Call(kind: String, inputRows: Long, steps: Seq[Step])

/** A call as run: wall seconds, per-step outcomes or an error, and the
  * traced per-layer record (empty when untraced). */
final case class Done(index: Int, round: Int, traced: Boolean, call: Call, wallS: Double,
                      outs: Map[String, Out], error: Option[String],
                      layers: Map[String, Double]) {
  def out(step: String): Out = outs(step)
  def ok: Boolean = error.isEmpty
}

object SinkFrame {
  /** The aggregate `graft.core.Sig.sink` runs — count and bit_xor of a
    * per-row xxhash64 over every column — plus the sums of `extras`.
    * Built as a frame (not run) so the traced run can plan it apart from
    * executing it; the self-test pins its rows+sig to `Sig.sink`'s. */
  def apply(df: DataFrame, extras: Seq[Column]): DataFrame = {
    val xs = extras.indices.map(i => s"__x$i")
    df.select(xxhash64(df.columns.toIndexedSeq.map(col): _*).as("__h") +:
        extras.zip(xs).map { case (c, n) => c.cast("decimal(38,0)").as(n) }: _*)
      .agg(count(lit(1)).as("__n"),
        bit_xor(col("__h")).as("__sig") +: xs.map(n => sum(col(n)).as(n)): _*)
  }

  def read(r: org.apache.spark.sql.Row, nExtras: Int): Out =
    Out(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      (0 until nExtras).map(i =>
        if (r.isNullAt(2 + i)) BigInt(0) else BigInt(r.getDecimal(2 + i).toBigInteger)))
}
