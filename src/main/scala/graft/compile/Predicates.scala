package graft.compile

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Predicate AST for detection rules.
  *
  * This is the compiler IR between Sigma YAML (or the hand-curated rule
  * corpus) and Spark. Keeping rules as a small AST instead of SQL text means:
  * (a) zero string-escaping bugs — the reference corpus is full of Windows
  * paths (`'%\lsass.exe'`, cf. /root/reference/rules/sigma/
  * windows-process-access.sql:160) whose backslashes would be mangled by a
  * second SQL-literal parse; (b) every predicate renders directly to a
  * Catalyst `Column`, so the whole rule fan-out stays inside whole-stage
  * codegen; (c) the same AST can render DuckDB SQL for the oracle harness.
  *
  * LIKE semantics (fidelity decision, SURVEY.md §2.2 P9 + §7 "hard parts"):
  * `%` is the multi-char wildcard, `_` the single-char wildcard, and there
  * is NO escape character — `\` is an ordinary literal. This is what the
  * reference deployment relies on: its patterns are Windows paths
  * (`'%\lsass.exe'`, windows-process-access.sql:160) that must match
  * single-backslash data, and its doubled-backslash patterns
  * (`'%C:\\Windows\\SYSTEM32\\ntdll.dll+%'`, :140-146) accordingly match
  * only doubled-backslash data — the corpus's own quirk, replicated. Spark's
  * built-in LIKE *rejects* `\l` ("escape character is not allowed to precede
  * 'l'"), so we never hand patterns to Spark's LIKE: simple patterns compile
  * to startsWith/endsWith/contains/equalTo (same specialization Catalyst's
  * LikeSimplification does), general ones to an anchored regex via rlike.
  */
sealed trait Pred {
  def toColumn(field: String => Column): Column
  def toDuckDb(field: String => String): String
  def and(o: Pred): Pred = And(this, o)
  def or(o: Pred): Pred = Or(this, o)
  def unary_! : Pred = Not(this)

  /** Compile to an IN-MEMORY row evaluator with SQL (Kleene) null
    * semantics — the returned `java.lang.Boolean` is null for SQL NULL,
    * so `evaluator(...) == TRUE` is exactly "row passes the filter".
    * Regexes/IN-sets build once here, not per row, and Like mirrors
    * toColumn's startsWith/endsWith/contains specializations so relative
    * costs track the Spark plan. It is the off-Spark reference that
    * graftbench and RuleDispatchExprSpec check alerts against, and it
    * generates no code: timing 1000 per-rule Spark plans instead filled
    * the JVM code cache and measurably slowed the codegen'd plan that ran
    * NEXT in the same JVM (round 7 cost calibration). PredicatesSpec pins
    * evaluator ≡ toColumn over the full corpus on the synth load. */
  def evaluator: Pred.Ev = {
    import Pred._
    def tri(b: Boolean): java.lang.Boolean = java.lang.Boolean.valueOf(b)
    this match {
      case Eq(f, v) => (fd, _) => {
        val x = fd(f); if (x == null) null else tri(x == v)
      }
      case In(f, vs) =>
        val set = vs.toSet
        (fd, _) => { val x = fd(f); if (x == null) null else tri(set(x)) }
      case IsNull(f) => (fd, _) => tri(fd(f) == null)
      case Like(f, p) =>
        def str(g: String => Boolean): Ev =
          (fd, _) => { val x = fd(f); if (x == null) null else tri(g(x)) }
        parseLike(p) match {
          case List(Lit(s)) => str(_ == s)
          case List(AnyN) => str(_ => true)
          case List(AnyN, Lit(s)) => str(_.endsWith(s))
          case List(Lit(s), AnyN) => str(_.startsWith(s))
          case List(AnyN, Lit(s), AnyN) => str(_.contains(s))
          case _ =>
            val re = java.util.regex.Pattern.compile(likeToRegex(p))
            str(x => re.matcher(x).find())
        }
      case SimilarTo(f, p) =>
        val re = java.util.regex.Pattern.compile(s"^(?:${fixRegex(p)})$$")
        (fd, _) => {
          val x = fd(f); if (x == null) null else tri(re.matcher(x).find())
        }
      case TopEq(c, v) => (_, top) => {
        val x = top(c)
        if (x == null) null
        else tri(x.asInstanceOf[Number].longValue() == v)
      }
      case And(l, r) =>
        // short-circuit on left-FALSE, exactly like Spark's generated And
        // — the evaluator's COST profile must track the plan's, or the
        // calibration mis-ranks rules whose cheap first conjunct rejects
        // most rows
        val le = l.evaluator; val re = r.evaluator
        (fd, top) => {
          val a = le(fd, top)
          if (a == java.lang.Boolean.FALSE) java.lang.Boolean.FALSE
          else {
            val b = re(fd, top)
            if (b == java.lang.Boolean.FALSE) java.lang.Boolean.FALSE
            else if (a == null || b == null) null
            else java.lang.Boolean.TRUE
          }
        }
      case Or(l, r) =>
        val le = l.evaluator; val re = r.evaluator
        (fd, top) => {
          val a = le(fd, top)
          if (a == java.lang.Boolean.TRUE) java.lang.Boolean.TRUE
          else {
            val b = re(fd, top)
            if (b == java.lang.Boolean.TRUE) java.lang.Boolean.TRUE
            else if (a == null || b == null) null
            else java.lang.Boolean.FALSE
          }
        }
      case Not(p) =>
        val pe = p.evaluator
        (fd, top) => {
          val a = pe(fd, top)
          if (a == null) null else tri(!a.booleanValue())
        }
    }
  }

  /** Render as Spark SQL text (the C6 `gen_flink_sql` analog — a rule as
    * SQL a user can paste into spark.sql). Differs from toDuckDb only in
    * string-literal escaping: Spark SQL treats `\` as an escape inside
    * literals, so every backslash in values/regexes doubles. */
  def toSparkSql(field: String => String): String = this match {
    case Eq(f, v) => s"${field(f)} = ${Pred.ssq(v)}"
    case In(f, vs) => s"${field(f)} IN (${vs.map(Pred.ssq).mkString(", ")})"
    case IsNull(f) => s"${field(f)} IS NULL"
    case Like(f, p) => s"regexp_like(${field(f)}, ${Pred.ssq(Pred.likeToRegex(p))})"
    case SimilarTo(f, p) =>
      s"regexp_like(${field(f)}, ${Pred.ssq(s"^(?:${Pred.fixRegex(p)})$$")})"
    case TopEq(c, v) => s"$c = $v"
    case And(l, r) => s"(${l.toSparkSql(field)} AND ${r.toSparkSql(field)})"
    case Or(l, r) => s"(${l.toSparkSql(field)} OR ${r.toSparkSql(field)})"
    case Not(p) => s"(NOT ${p.toSparkSql(field)})"
  }
}

object Pred {
  /** In-memory evaluator: (event_data field → value-or-null, top-level
    * column → value-or-null) → SQL boolean (null = SQL NULL). */
  type Ev = (String => String, String => Any) => java.lang.Boolean

  /** SQL-quote a string literal (standard: only '' needs escaping). */
  def sq(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Spark-SQL-quote: backslashes are escapes in Spark literals → double
    * them, then escape quotes (SURVEY §2.2 P9 "hard parts"). */
  def ssq(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** Escape a char for use as a literal inside a Java/RE2 regex. */
  private def regexEscapeChar(c: Char): String =
    if ("\\^$.|?*+()[]{}".indexOf(c) >= 0) "\\" + c else c.toString

  /** Parsed LIKE pattern: literal runs interleaved with wildcards. */
  sealed trait Tok
  case class Lit(s: String) extends Tok
  case object Any_ extends Tok // '_'
  case object AnyN extends Tok // '%'

  def parseLike(pattern: String): List[Tok] = {
    val out = scala.collection.mutable.ListBuffer.empty[Tok]
    val lit = new StringBuilder
    def flush(): Unit = if (lit.nonEmpty) { out += Lit(lit.toString); lit.clear() }
    var i = 0
    while (i < pattern.length) {
      pattern.charAt(i) match {
        case '%' => flush(); out += AnyN; i += 1
        case '_' => flush(); out += Any_; i += 1
        case c => lit += c; i += 1
      }
    }
    flush()
    // collapse consecutive %
    out.foldLeft(List.empty[Tok]) {
      case (AnyN :: rest, AnyN) => AnyN :: rest
      case (acc, t) => t :: acc
    }.reverse
  }

  def likeToRegex(pattern: String): String =
    parseLike(pattern).map {
      case Lit(s) => s.flatMap(regexEscapeChar)
      case Any_ => "."
      case AnyN => ".*"
    }.mkString("^", "", "$")

  /** Make a corpus `SIMILAR TO` pattern valid Java regex: escape `{` that
    * does not open a quantifier (e.g. the literal GUID braces in
    * windows-process-creation.sql:117). RE2/DuckDB treat such `{` as
    * literal already; Java throws, so both engines get the fixed form. */
  def fixRegex(pattern: String): String =
    pattern.replaceAll("""\{(?![0-9]+(?:,[0-9]*)?\})""", """\\{""")
}

/** event_data string-field predicates (field resolution is injected so the
  * same AST runs against the nested sysmon schema or a flat oracle table). */
case class Eq(f: String, v: String) extends Pred {
  def toColumn(field: String => Column): Column = field(f) === v
  def toDuckDb(field: String => String): String = s"${field(f)} = ${Pred.sq(v)}"
}
case class In(f: String, vs: Seq[String]) extends Pred {
  def toColumn(field: String => Column): Column = field(f).isin(vs: _*)
  def toDuckDb(field: String => String): String =
    s"${field(f)} IN (${vs.map(Pred.sq).mkString(", ")})"
}
case class IsNull(f: String) extends Pred {
  def toColumn(field: String => Column): Column = field(f).isNull
  def toDuckDb(field: String => String): String = s"${field(f)} IS NULL"
}
case class Like(f: String, pattern: String) extends Pred {
  import Pred._
  def toColumn(field: String => Column): Column = parseLike(pattern) match {
    case List(Lit(s)) => field(f) === s
    // NOT isNotNull: SQL `x LIKE '%'` is NULL for NULL x (matters under
    // negation); startsWith("") is true for any string, NULL for NULL
    case List(AnyN) => field(f).startsWith("")
    case List(AnyN, Lit(s)) => field(f).endsWith(s)
    case List(Lit(s), AnyN) => field(f).startsWith(s)
    case List(AnyN, Lit(s), AnyN) => field(f).contains(s)
    case _ => field(f).rlike(likeToRegex(pattern))
  }
  def toDuckDb(field: String => String): String =
    s"regexp_matches(${field(f)}, ${Pred.sq(likeToRegex(pattern))})"
}
/** SQL `SIMILAR TO` — fully anchored regex match (SURVEY §2.2 P10). The
  * corpus patterns are Java-flavored already; we anchor with ^(?:…)$. */
case class SimilarTo(f: String, pattern: String) extends Pred {
  private val fixed = Pred.fixRegex(pattern)
  def toColumn(field: String => Column): Column =
    field(f).rlike(s"^(?:$fixed)$$")
  def toDuckDb(field: String => String): String =
    s"regexp_matches(${field(f)}, ${Pred.sq(s"^(?:$fixed)$$")})"
}
/** Top-level (non-event_data) column equality, e.g. event_id = 10. */
case class TopEq(colName: String, v: Long) extends Pred {
  def toColumn(field: String => Column): Column = col(colName) === v
  def toDuckDb(field: String => String): String = s"$colName = $v"
}
case class And(l: Pred, r: Pred) extends Pred {
  def toColumn(field: String => Column): Column = l.toColumn(field) && r.toColumn(field)
  def toDuckDb(field: String => String): String =
    s"(${l.toDuckDb(field)} AND ${r.toDuckDb(field)})"
}
case class Or(l: Pred, r: Pred) extends Pred {
  def toColumn(field: String => Column): Column = l.toColumn(field) || r.toColumn(field)
  def toDuckDb(field: String => String): String =
    s"(${l.toDuckDb(field)} OR ${r.toDuckDb(field)})"
}
case class Not(p: Pred) extends Pred {
  def toColumn(field: String => Column): Column = !p.toColumn(field)
  def toDuckDb(field: String => String): String = s"(NOT ${p.toDuckDb(field)})"
}

/** Terse DSL for transcribing the reference rule corpus. */
object dsl {
  implicit class FieldOps(val name: String) extends AnyVal {
    def like(p: String): Pred = Like(name, p)
    def eq_(v: String): Pred = Eq(name, v)
    def in_(vs: String*): Pred = In(name, vs)
    def similarTo(p: String): Pred = SimilarTo(name, p)
    def isNull_ : Pred = IsNull(name)
  }
  def eventId(v: Long): Pred = TopEq("event_id", v)
  def all(ps: Pred*): Pred = ps.reduce(And(_, _))
  def any(ps: Pred*): Pred = ps.reduce(Or(_, _))
}
