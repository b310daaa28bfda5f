package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{
  Add, And, Attribute, AttributeReference, AttributeSet, Cast, EqualTo,
  Explode, Expression, Greatest, GreaterThan, GreaterThanOrEqual,
  IntegralDivide, LessThan, LessThanOrEqual, Literal, Pmod, PredicateHelper,
  Sequence => SeqExpr, Subtract}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{
  Generate, HintInfo, Join, JoinHint, LogicalPlan, Project, SHUFFLE_HASH}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Catalyst optimizer rule: plan plain-SQL interval joins scale-safely.
  *
  * A user porting reference queries (`ops.py:340-475` overlap semantics)
  * to SQL writes the textbook range predicate
  *
  * {{{ SELECT ... FROM a JOIN b
  *     ON a.chrom = b.chrom AND a.start < b.end AND b.start < a.end }}}
  *
  * Vanilla Spark extracts only the `chrom` equi-key, so every probe row
  * scans its ENTIRE same-chrom partition of the build side — cost
  * O(|L|·|R| / n_chrom), the exact blowup `IntervalJoin.resolveAuto`
  * documents (650s vs 15s at 600k x 150k); with no equi-key at all (a
  * pure range join, e.g. point-in-interval on timestamps) it degenerates
  * to a broadcast-nested-loop or cartesian plan. This rule rewrites such
  * joins into the engine's binned equi-join (`ops/IntervalJoin.scala`,
  * `Binned`): explode both sides onto fixed-width bins, equi-join on the
  * bin (plus whatever equi-keys the user already wrote), re-check the
  * original predicate, and keep each pair only in the bin containing
  * `max(start1, start2)` — exactly-once emission with no `distinct()`.
  * This Expression-level copy of `IntervalJoin.explodeBins`/`joinBins`
  * exists because Column code cannot run inside an optimizer rule;
  * `JoinPropertySpec` holds both to the same brute force.
  *
  * Matched shapes (conjuncts in any order, `<` or `<=`, either
  * direction):
  *  - '''interval overlap''': `l.s < r.e AND r.s < l.e`
  *  - '''point-in-interval''': `r.lo <= l.p AND l.p < r.hi` (the point
  *    side degenerates to `start = end = p` and explodes onto one bin)
  *
  * Declined (left to Spark's planner): non-inner joins, joins carrying
  * an explicit strategy hint (the DataFrame API's broadcast path arrives
  * hinted), joins whose condition already references bin columns
  * (`__bin*` from the DataFrame binned path, `__graft_bin*` from this
  * rule — the idempotency guard under the fixpoint operator batch), and
  * joins where either side's size estimate is below
  * [[IntervalJoinRewrite.SmallBytesKey]] (a true dimension side is
  * better served by a broadcast hash join on the equi-keys).
  *
  * Registered through [[GraftExtensions]]
  * (`spark.sql.extensions=graft.plans.GraftExtensions`); active in the
  * engine's Verify/Bench/test sessions. The rewrite preserves the join's
  * output attributes (ids included), so it is transparent to parent
  * operators.
  */
object IntervalJoinRewrite {
  /** Kill switch (runtime conf, default on). */
  val EnabledKey = "spark.graft.sql.intervalJoin.enabled"
  /** Bin width in coordinate units. The default suits genomic
    * coordinates (~3e9 span -> ~3000 bins/chrom); callers joining in
    * other coordinate spaces (timestamps, token offsets) should size it
    * to span/1000..span/10000. An interval explodes onto span/binSize+1
    * bins, so a too-small width inflates the candidate relation. */
  val BinSizeKey = "spark.graft.sql.intervalJoin.binSize"
  /** Below this optimizer size estimate (bytes) a join side counts as a
    * dimension table and the join is left to Spark's broadcast planner. */
  val SmallBytesKey = "spark.graft.sql.intervalJoin.smallBytes"
  val DefaultBinSize: Long = 1000000L
  val DefaultSmallBytes: Long = 65536L
  val BinName = "__graft_bin"
}

case class IntervalJoinRewrite(session: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {
  import IntervalJoinRewrite._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString(EnabledKey, "true").toBoolean) plan
    else plan.transformUp {
      case j @ Join(l, r, Inner, Some(cond), hint)
          if hint == JoinHint.NONE && noBinColumns(cond) &&
            bothSidesLarge(l, r) =>
        rewrite(j, l, r, cond).getOrElse(j)
    }
  }

  private def noBinColumns(cond: Expression): Boolean =
    !cond.references.exists(a =>
      a.name.startsWith("__bin") || a.name.startsWith(BinName))

  private def bothSidesLarge(l: LogicalPlan, r: LogicalPlan): Boolean = {
    val small = BigInt(
      conf.getConfString(SmallBytesKey, DefaultSmallBytes.toString).toLong)
    l.stats.sizeInBytes > small && r.stats.sizeInBytes > small
  }

  private def integral(e: Expression): Boolean = e.dataType match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** `a < b` / `a <= b` conjuncts normalized so `>`/`>=` read reversed. */
  private def asLess(e: Expression): Option[(Expression, Expression)] = e match {
    case LessThan(a, b)           => Some((a, b))
    case LessThanOrEqual(a, b)    => Some((a, b))
    case GreaterThan(a, b)        => Some((b, a))
    case GreaterThanOrEqual(a, b) => Some((b, a))
    case _ => None
  }

  private def rewrite(j: Join, l: LogicalPlan, r: LogicalPlan,
                      cond: Expression): Option[LogicalPlan] = {
    def fromSide(e: Expression, out: AttributeSet): Boolean =
      e.deterministic && e.references.nonEmpty &&
        e.references.subsetOf(out) && integral(e)
    def oneSided(e: Expression): Boolean =
      fromSide(e, l.outputSet) || fromSide(e, r.outputSet)
    // the band-join spelling `a.x - b.y <= c` crosses sides inside one
    // operand; move the subtrahend across the inequality so the pair
    // becomes single-sided (`a.x <= c + b.y`). Validity of the result is
    // re-checked by the side classification below, so a move that did
    // not separate the sides simply fails to match.
    def unCross(p: (Expression, Expression)): (Expression, Expression) =
      p match {
        case (a, b) if oneSided(a) && oneSided(b) => p
        case (Subtract(x, y, m), b) => (x, Add(b, y, m))
        case (a, Subtract(x, y, m)) => (Add(a, y, m), x)
        case other => other
      }
    val less = splitConjunctivePredicates(cond).flatMap(asLess).map(unCross)
    // one conjunct bounding a left expression by a right one, and one the
    // other way around: together they bracket an overlap of the implied
    // intervals (ls, le) x (rs, re)
    val l2r = less.find { case (a, b) =>
      fromSide(a, l.outputSet) && fromSide(b, r.outputSet) }
    val r2l = less.find { case (a, b) =>
      fromSide(a, r.outputSet) && fromSide(b, l.outputSet) }
    (l2r, r2l) match {
      case (Some((ls, re)), Some((rs, le))) =>
        val w = conf.getConfString(BinSizeKey, DefaultBinSize.toString).toLong
        if (w <= 0) return None
        def toLong(e: Expression) =
          if (e.dataType == LongType) e else Cast(e, LongType)
        def fdiv(e: Expression) = {
          val wl = Literal(w)
          IntegralDivide(Subtract(e, Pmod(e, wl)), wl)
        }
        // inclusive of the end coordinate's bin: covers `<=` bounds,
        // zero-length points, and (via Sequence's descending step) even
        // inverted intervals — the overlap-start bin is always emitted
        def bins(s: Expression, t: Expression) = new SeqExpr(
          fdiv(toLong(s)), fdiv(toLong(t)), None,
          Some(conf.sessionLocalTimeZone))
        def gen(child: LogicalPlan, s: Expression, t: Expression,
                name: String): (LogicalPlan, Attribute) = {
          val attr = AttributeReference(name, LongType, nullable = false)()
          (Generate(Explode(bins(s, t)), Nil, outer = false, None,
            Seq(attr), child), attr)
        }
        val (lGen, lBin) = gen(l, ls, le, BinName + "_l")
        val (rGen, rBin) = gen(r, rs, re, BinName + "_r")
        // emit each candidate pair only from the bin holding the
        // overlap's start — the closed-form dedup of IntervalJoin.pairs
        val dedup = EqualTo(lBin,
          fdiv(Greatest(Seq(toLong(ls), toLong(rs)))))
        val newCond = And(And(EqualTo(lBin, rBin), dedup), cond)
        // build a hash map per bin partition instead of sort-merge: with
        // heavily duplicated bin keys SMJ degenerates into a buffered
        // nested loop (ops/IntervalJoin.scala, measured 20x)
        val newHint = JoinHint(None,
          Some(HintInfo(strategy = Some(SHUFFLE_HASH))))
        Some(Project(j.output,
          Join(lGen, rGen, Inner, Some(newCond), newHint)))
      case _ => None
    }
  }
}

/** SQL surface for the engine's codegen'd kernels: registered in every
  * graft session so plain-`spark.sql` users get the vector math without
  * touching the Scala API (and without UDF overhead — these resolve to
  * the same native Catalyst expressions the Column API uses). */
object GraftFunctions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
  import graft.ann.{VecCosine, VecDot, VecL2Normalize, VecLshBucket, VecSqDist}

  private def fixedArity(name: String, n: Int)(
      build: Seq[Expression] => Expression)(args: Seq[Expression]): Expression = {
    require(args.length == n,
      s"$name expects $n argument(s), got ${args.length}")
    build(args)
  }

  val all: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getCanonicalName, "vec_dot"),
      fixedArity("vec_dot", 2)(a => VecDot(a(0), a(1))) _),
    (FunctionIdentifier("vec_cosine"),
      new ExpressionInfo(classOf[VecCosine].getCanonicalName, "vec_cosine"),
      fixedArity("vec_cosine", 2)(a => VecCosine(a(0), a(1))) _),
    (FunctionIdentifier("vec_sqdist"),
      new ExpressionInfo(classOf[VecSqDist].getCanonicalName, "vec_sqdist"),
      fixedArity("vec_sqdist", 2)(a => VecSqDist(a(0), a(1))) _),
    (FunctionIdentifier("vec_l2_normalize"),
      new ExpressionInfo(classOf[VecL2Normalize].getCanonicalName,
        "vec_l2_normalize"),
      fixedArity("vec_l2_normalize", 1)(a => VecL2Normalize(a(0))) _),
    (FunctionIdentifier("vec_lsh_bucket"),
      new ExpressionInfo(classOf[VecLshBucket].getCanonicalName,
        "vec_lsh_bucket"),
      fixedArity("vec_lsh_bucket", 2) { a =>
        a(1) match {
          case Literal(n: Int, IntegerType) => VecLshBucket(a(0), n)
          case other => throw new IllegalArgumentException(
            "vec_lsh_bucket(vec, numPlanes): numPlanes must be an " +
              s"integer literal, got $other")
        }
      } _),
    (FunctionIdentifier("unicode_normalize"),
      new ExpressionInfo(
        classOf[graft.text.UnicodeNormalize].getCanonicalName,
        "unicode_normalize"),
      fixedArity("unicode_normalize", 2) { a =>
        a(1) match {
          case Literal(f, _) if f != null =>
            graft.text.UnicodeNormalize(a(0), f.toString)
          case other => throw new IllegalArgumentException(
            "unicode_normalize(text, form): form must be a string " +
              s"literal (NFC/NFD/NFKC/NFKD), got $other")
        }
      } _),
    // z_value(c1, c2, ..., bits): Morton interleave of >= 2 bounded
    // non-negative lanes (graft.ops.Layout.zValue). Resolves to the
    // same composed built-in integer expressions as the Column API —
    // no UDF, stays in whole-stage codegen.
    (FunctionIdentifier("z_value"),
      new ExpressionInfo("graft.ops.Layout", "z_value"),
      { args: Seq[Expression] =>
        require(args.length >= 3,
          "z_value(col1, col2, ..., bits) needs >= 2 lanes + bits")
        val bits = args.last match {
          case Literal(b: Int, IntegerType) => b
          case other => throw new IllegalArgumentException(
            s"z_value: bits must be an integer literal, got $other")
        }
        import org.apache.spark.sql.graftbridge.Bridge
        Bridge.catalystExpression(graft.ops.Layout.zValue(
          args.init.map(Bridge.column), bits))
      }),
    // hdr_bucket(v, sbBits): deterministic HDR log-bucket index
    // (graft.text.Hdr.bucketize) — same composition posture.
    (FunctionIdentifier("hdr_bucket"),
      new ExpressionInfo("graft.text.Hdr", "hdr_bucket"),
      fixedArity("hdr_bucket", 2) { a =>
        val b = a(1) match {
          case Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"hdr_bucket: sbBits must be an integer literal, got $other")
        }
        import org.apache.spark.sql.graftbridge.Bridge
        Bridge.catalystExpression(
          graft.text.Hdr.bucketize(Bridge.column(a(0)), b))
      } _))
}

/** `spark.sql.extensions` entry point registering graft's Catalyst
  * rules and SQL functions. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(s => IntervalJoinRewrite(s))
    GraftFunctions.all.foreach(e.injectFunction)
    GraftTableFunctions.all.foreach(e.injectTableFunction)
  }
}
