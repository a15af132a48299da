package graft.sources.cdc

import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** Executor-evaluable predicate over a WIRE row (the undecoded
  * string/null arrays), compiled from the filters Spark pushes into the
  * scan (`SupportsPushDownFilters`).
  *
  * Exactness contract — the one rule every node obeys: `eval` may return
  * `true` for a row the SQL predicate rejects (every pushed filter stays
  * residual, so Spark re-applies it after the scan), but it must NEVER
  * return `false` for a row the SQL predicate accepts — over-filtering at
  * the source would silently lose rows. Concretely: unparseable numerics
  * evaluate to `true` (keep, let Spark decide), string ORDER comparisons
  * are never compiled (UTF8String binary order differs from Java string
  * order on supplementary characters), and three-valued null logic
  * collapses to `false` exactly where SQL does.
  *
  * Why this exists at all: at changelog scale the win is dropping rows
  * BEFORE the typed cast + InternalRow allocation + Spark pipeline — a
  * consumer tailing `event_type = 'insert'` on a mixed workload decodes
  * a fraction of the wire traffic. GTID framing and offset semantics are
  * untouched: predicates run after range/dedupe checks, and admission
  * control still counts wire events, not emitted rows.
  */
private[sources] sealed trait WirePred extends Serializable {
  def eval(values: Array[String], nulls: Array[Boolean]): Boolean
}

private[sources] object WirePred {
  /** Comparison op codes shared by the numeric nodes. */
  final val LT = -2; final val LE = -1; final val EQ = 0
  final val GE = 1; final val GT = 2

  /** Wire-row positions `p` reads. */
  def refs(p: WirePred): Set[Int] = p match {
    case StrEq(i, _, _) => Set(i)
    case StrIn(i, _, _) => Set(i)
    case StrPat(i, _, _, _) => Set(i)
    case LongCmp(i, _, _) => Set(i)
    case LongIn(i, _) => Set(i)
    case DblCmp(i, _, _) => Set(i)
    case FloatCmp(i, _, _) => Set(i)
    case NullTest(i, _, _) => Set(i)
    case AndP(a, b) => refs(a) ++ refs(b)
    case OrP(a, b) => refs(a) ++ refs(b)
    case NotP(a) => refs(a)
  }

  /** AND of two predicates where null means "none". */
  def and(a: WirePred, b: WirePred): WirePred =
    if (a == null) b else if (b == null) a else AndP(a, b)

  private def cmpHolds(c: Int, op: Int): Boolean = op match {
    case LT => c < 0
    case LE => c <= 0
    case EQ => c == 0
    case GE => c >= 0
    case GT => c > 0
  }

  /** String equality. In raw mode a wire null decodes to "" (the
    * reference's json_to_string semantics), so the predicate must see ""
    * too — `EqualTo(c, '')` matches raw nulls exactly like Spark does. */
  final case class StrEq(i: Int, rhs: String, raw: Boolean) extends WirePred {
    def eval(v: Array[String], n: Array[Boolean]): Boolean =
      if (n(i)) raw && rhs.isEmpty else v(i) == rhs
  }

  final case class StrIn(i: Int, rhs: Set[String], raw: Boolean) extends WirePred {
    def eval(v: Array[String], n: Array[Boolean]): Boolean =
      if (n(i)) raw && rhs.contains("") else rhs.contains(v(i))
  }

  /** startsWith / endsWith / contains — substring tests are
    * order-insensitive, so Java string semantics match UTF8String. */
  final case class StrPat(i: Int, rhs: String, mode: Int, raw: Boolean)
      extends WirePred {
    def eval(v: Array[String], n: Array[Boolean]): Boolean = {
      val x = if (n(i)) { if (raw) "" else return false } else v(i)
      mode match {
        case 0 => x.startsWith(rhs)
        case 1 => x.endsWith(rhs)
        case _ => x.contains(rhs)
      }
    }
  }

  /** Integral comparison; a value the wire can't parse as a long keeps
    * the row (the typed cast downstream defines the real semantics). */
  final case class LongCmp(i: Int, rhs: Long, op: Int) extends WirePred {
    def eval(v: Array[String], n: Array[Boolean]): Boolean =
      !n(i) && (try cmpHolds(java.lang.Long.compare(v(i).toLong, rhs), op)
        catch { case _: NumberFormatException => true })
  }

  final case class LongIn(i: Int, rhs: Set[Long]) extends WirePred {
    def eval(v: Array[String], n: Array[Boolean]): Boolean =
      !n(i) && (try rhs.contains(v(i).toLong)
        catch { case _: NumberFormatException => true })
  }

  final case class DblCmp(i: Int, rhs: Double, op: Int) extends WirePred {
    def eval(v: Array[String], n: Array[Boolean]): Boolean =
      !n(i) && (try cmpHolds(java.lang.Double.compare(v(i).toDouble, rhs), op)
        catch { case _: NumberFormatException => true })
  }

  /** Float comparison at FLOAT precision. The typed decode rounds the
    * wire text through `toFloat` (SqlTypes.cast), so comparing the
    * double-parsed text against the double-widened float literal can
    * disagree with SQL exactly at the rounding boundary — wire "0.1"
    * decodes to 0.1f and SQL-equals the literal 0.1f, but as doubles
    * 0.1 != 0.10000000149, and EQ would DROP the SQL-true row. Parse
    * and compare as floats, mirroring the decode bit-for-bit. */
  final case class FloatCmp(i: Int, rhs: Float, op: Int) extends WirePred {
    def eval(v: Array[String], n: Array[Boolean]): Boolean =
      !n(i) && (try cmpHolds(java.lang.Float.compare(v(i).toFloat, rhs), op)
        catch { case _: NumberFormatException => true })
  }

  /** Null tests. Raw mode never decodes a SQL null (null → ""), so
    * IsNull is constant-false / IsNotNull constant-true there. */
  final case class NullTest(i: Int, isNull: Boolean, raw: Boolean)
      extends WirePred {
    def eval(v: Array[String], n: Array[Boolean]): Boolean =
      if (raw) !isNull else n(i) == isNull
  }

  final case class AndP(a: WirePred, b: WirePred) extends WirePred {
    def eval(v: Array[String], n: Array[Boolean]): Boolean =
      a.eval(v, n) && b.eval(v, n)
  }

  final case class OrP(a: WirePred, b: WirePred) extends WirePred {
    def eval(v: Array[String], n: Array[Boolean]): Boolean =
      a.eval(v, n) || b.eval(v, n)
  }

  /** Safe because child nodes return `true` ONLY where SQL says true
    * (null collapses to false): negating can keep extra rows (residual
    * re-filtering drops them) but never drops a SQL-true row. */
  final case class NotP(a: WirePred) extends WirePred {
    def eval(v: Array[String], n: Array[Boolean]): Boolean = !a.eval(v, n)
  }
}

/** Implemented by the CDC micro-batch streams so the session-side
  * optimizer rule (`org.apache.spark.sql.graft.CdcStreamingPushdown`)
  * can hand them the query's filters and referenced columns — the
  * information Spark's micro-batch planner never routes through the
  * DSv2 pushdown interfaces. Implementations treat every call as
  * advisory and monotone-safe: acting on it drops only rows/columns the
  * plan provably discards, and ignoring it (or racing a batch) is
  * merely unoptimized, never incorrect. */
trait CdcPushdownSupport {
  /** `filters`: the translated conjuncts sitting directly above the
    * scan (Spark still evaluates them — residual semantics).
    * `referenced`: the output columns the plan reads, or None when the
    * plan shape doesn't bound them (then decode everything). */
  def pushRuntime(filters: Seq[Filter], referenced: Option[Set[String]]): Unit
}

private[sources] object CdcWireFilters {
  import WirePred._

  /** Compile one pushed Filter against the wire `schema`, or None when
    * any part is untranslatable (unknown column, unsupported type or
    * shape). `typed` distinguishes the null conventions (typed mode has
    * SQL nulls; raw mode decodes null → ""). */
  def compile(f: Filter, schema: StructType, typed: Boolean): Option[WirePred] = {
    val raw = !typed
    def field(a: String): Option[(Int, DataType)] =
      schema.fields.zipWithIndex
        .collectFirst { case (sf, i) if sf.name == a => (i, sf.dataType) }
    def longOf(v: Any): Option[Long] = v match {
      case n: java.lang.Byte    => Some(n.longValue)
      case n: java.lang.Short   => Some(n.longValue)
      case n: java.lang.Integer => Some(n.longValue)
      case n: java.lang.Long    => Some(n.longValue)
      case _ => None
    }
    def dblOf(v: Any): Option[Double] = v match {
      case n: java.lang.Float  => Some(n.doubleValue)
      case n: java.lang.Double => Some(n.doubleValue)
      case _ => longOf(v).map(_.toDouble)
    }
    def cmp(a: String, v: Any, op: Int): Option[WirePred] = field(a).flatMap {
      case (i, StringType) if op == EQ && v.isInstanceOf[String] =>
        Some(StrEq(i, v.asInstanceOf[String], raw))
      // no string ORDER comparisons: UTF8String binary order and Java
      // string order disagree on supplementary characters
      case (i, ByteType | ShortType | IntegerType | LongType) =>
        longOf(v).map(LongCmp(i, _, op))
      // FloatType compares at float precision (see FloatCmp). Only a
      // Float literal reaches a FloatType column un-Cast (anything else
      // sits under a Cast Spark doesn't push), so refuse other shapes.
      case (i, FloatType) => v match {
        case f: java.lang.Float => Some(FloatCmp(i, f.floatValue, op))
        case _ => None
      }
      case (i, DoubleType) => dblOf(v).map(DblCmp(i, _, op))
      case _ => None
    }
    f match {
      case EqualTo(a, v)            => cmp(a, v, EQ)
      // <=> with a non-null literal is false on null rows — exactly what
      // the EQ nodes already return; <=> null is the IsNull test
      case EqualNullSafe(a, null)   => field(a).map { case (i, _) =>
        NullTest(i, isNull = true, raw) }
      case EqualNullSafe(a, v)      => cmp(a, v, EQ)
      case GreaterThan(a, v)        => cmp(a, v, GT)
      case GreaterThanOrEqual(a, v) => cmp(a, v, GE)
      case LessThan(a, v)           => cmp(a, v, LT)
      case LessThanOrEqual(a, v)    => cmp(a, v, LE)
      case In(a, vs) => field(a).flatMap {
        case (i, StringType) if vs.forall(_.isInstanceOf[String]) =>
          Some(StrIn(i, vs.map(_.asInstanceOf[String]).toSet, raw))
        case (i, ByteType | ShortType | IntegerType | LongType) =>
          val ls = vs.map(longOf)
          if (ls.forall(_.isDefined)) Some(LongIn(i, ls.flatten.toSet)) else None
        case _ => None
      }
      case IsNull(a)    => field(a).map { case (i, _) => NullTest(i, isNull = true, raw) }
      case IsNotNull(a) => field(a).map { case (i, _) => NullTest(i, isNull = false, raw) }
      case StringStartsWith(a, v) => field(a).collect {
        case (i, StringType) => StrPat(i, v, 0, raw) }
      case StringEndsWith(a, v) => field(a).collect {
        case (i, StringType) => StrPat(i, v, 1, raw) }
      case StringContains(a, v) => field(a).collect {
        case (i, StringType) => StrPat(i, v, 2, raw) }
      case And(l, r) => for {
        a <- compile(l, schema, typed); b <- compile(r, schema, typed)
      } yield AndP(a, b)
      case Or(l, r) => for {
        a <- compile(l, schema, typed); b <- compile(r, schema, typed)
      } yield OrP(a, b)
      case Not(c) => compile(c, schema, typed).map(NotP.apply)
      case _ => None
    }
  }

  /** AND-combine the compiled conjuncts; null when nothing compiled
    * (the readers' no-filter fast path). */
  def compileAll(fs: Seq[Filter], schema: StructType, typed: Boolean): WirePred =
    fs.flatMap(compile(_, schema, typed)).reduceOption(AndP.apply).orNull
}
