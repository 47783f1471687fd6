package graft.rdf

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SPARQL-subset front end: parses the SELECT fragment every reference
  * enricher uses (SURVEY §2.2 — BGPs, OPTIONAL, UNION, GRAPH scoping,
  * FILTER comparisons, DISTINCT, ORDER BY, LIMIT, and the aggregate /
  * property-path / sub-SELECT forms of the reference's enricher queries)
  * and compiles it onto the [[Bgp]] DataFrame builders, so Catalyst
  * optimizes the resulting plan like any other query (reference lifecycle
  * §3.1: parse → algebra → evaluate, with RDF4J's evaluator replaced by
  * Spark).
  *
  * Aggregates target the reference's message-count query
  * (`thymeflow/src/main/com/thymeflow/enricher/entityresolution/
  * AgentMatchEnricher.scala:101-112`); `p*` paths and sub-SELECT target
  * the primary-facet query (`core/src/main/com/thymeflow/enricher/
  * PrimaryFacetEnricher.scala:18-28`); `p1/p2` sequence paths target the
  * email-address query (`AgentMatchEnricher.scala:95-99`).
  *
  * Grammar (hand-rolled recursive descent, no dependencies):
  * {{{
  * query   := (PREFIX ns: <iri>)*
  *            SELECT [DISTINCT] (?v | (AGG([DISTINCT] ?v|*) AS ?alias)
  *                               | (expr AS ?alias) | *)... [WHERE] { group }
  *            [GROUP BY ?v...] [HAVING (AGG([DISTINCT] ?v) op value)]
  *            [ORDER BY key...] [OFFSET n] [LIMIT n]
  *          | (PREFIX...)* ASK { group }
  *          | (PREFIX...)* CONSTRUCT { template } WHERE { group }
  *          | (PREFIX...)* DESCRIBE (<iri>|?v|*)... [WHERE { group }]
  * AGG     := COUNT | SUM | MIN | MAX | AVG
  *          | GROUP_CONCAT[(x; SEPARATOR="s")] | SAMPLE
  * update  := INSERT DATA { quads } | DELETE DATA { quads }
  *          | DELETE [{t}] [INSERT {t}] WHERE { group } | DELETE WHERE { group }
  * group   := element*
  * element := triples '.'?                 (with ';' and ',' lists)
  *          | OPTIONAL { group }
  *          | FILTER ( cond [&&/|| cond]* )
  *          | FILTER [NOT] EXISTS { group }
  *          | GRAPH term { group }
  *          | { group } UNION { group }
  *          | { SELECT ... }               (sub-select)
  * triple  := term path term
  * path    := seq ('|' seq)*                (SPARQL 1.1 §9.1)
  * seq     := elt ('/' elt)*
  * elt     := ['^'] primary ['*'|'+'|'?'|'{n[,[m]]}']
  * primary := pterm | '!' pterm | '!(' pterm ('|' pterm)* ')' | '(' path ')'
  *            ({0,} = *, {1,} = +, {0,1} = ?, {1} = plain)
  * pterm   := <iri> | bareword | 'a' (→ rdf:type)
  * term    := ?var | <iri> | "literal" | bareword
  * object  := term ["^^"<dt> | "@"lang]     (typed/tagged literals)
  * key     := ?v | AGG(?v) | DESC(...) | ASC(...)   (several keys allowed)
  * expr    := full boolean/comparison/arithmetic grammar (||, &&, =/!=/
  *            </<=/>/>=, +,-,*,/ with standard precedence, unary !/-) over
  *            ?vars, literals, numbers and the builtin calls STR LANG
  *            LANGMATCHES DATATYPE IF COALESCE BOUND REGEX STRSTARTS
  *            STRENDS CONTAINS STRLEN UCASE LCASE SUBSTR CONCAT REPLACE
  *            ABS ROUND CEIL FLOOR STRBEFORE STRAFTER isIRI isLiteral
  *            isBlank — used by FILTER(expr), BIND(expr AS ?v) and
  *            SELECT (expr AS ?v). Subtraction needs spaces (`?a - ?b`):
  *            '-' stays inside tokens so negative numbers and hyphenated
  *            barewords lex whole. LANG/DATATYPE/isIRI read the term
  *            metadata a variable carries from the scan that binds it
  *            ([[Bgp.scanMeta]]) through the algebra.
  * }}}
  */
object Sparql {

  // ------------------------------------------------------------- tokenizer

  private def isHexDigit(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')

  private def tokenize(q: String): List[String] = {
    val out = scala.collection.mutable.ListBuffer[String]()
    var i = 0
    val n = q.length
    while (i < n) {
      val c = q(i)
      if (c.isWhitespace) i += 1
      else if (c == '<') {
        // '<' opens an IRI only if a whitespace-free <...> span follows;
        // otherwise it is the comparison operator
        val j = q.indexOf('>', i)
        val candidate = if (j > i) q.substring(i, j + 1) else ""
        if (j > i + 1 && !candidate.exists(_.isWhitespace)) { out += candidate; i = j + 1 }
        else if (i + 1 < n && q(i + 1) == '=') { out += "<="; i += 2 }
        else { out += "<"; i += 1 }
      }
      else if (c == '"') {
        val sb = new StringBuilder("\"")
        i += 1
        while (i < n && q(i) != '"') {
          if (q(i) == '\\' && i + 1 < n) {
            // SPARQL ECHAR + \uXXXX: decode to the actual character — the
            // old `sb += q(i+1)` kept the raw letter, so "a\nb" parsed as
            // the three-char literal "anb" instead of a newline
            q(i + 1) match {
              case 'n' => sb += '\n'; i += 2
              case 't' => sb += '\t'; i += 2
              case 'r' => sb += '\r'; i += 2
              case 'b' => sb += '\b'; i += 2
              case 'f' => sb += '\f'; i += 2
              case 'u' if i + 5 < n =>
                val hex = q.substring(i + 2, i + 6)
                require(hex.forall(isHexDigit),
                  s"malformed \\u escape '\\u$hex' in literal near ...${q.substring(i, math.min(n, i + 12))}")
                sb += Integer.parseInt(hex, 16).toChar
                i += 6
              case 'U' if i + 9 < n =>
                // SPARQL grammar UCHAR: \UXXXXXXXX (8 hex digits) for
                // supplementary-plane code points — decodes to a surrogate
                // pair via Character.toChars
                val hex = q.substring(i + 2, i + 10)
                require(hex.forall(isHexDigit),
                  s"malformed \\U escape '\\U$hex' in literal near ...${q.substring(i, math.min(n, i + 16))}")
                // parse as Long: \UFFFFFFFF overflows Integer.parseInt, and
                // a syntactically-valid but out-of-range code point (e.g.
                // \U00110000) must fail with the same contextual message,
                // not a bare exception from Character.toChars
                // surrogate code points are rejected too: an 8-digit escape
                // denotes a full scalar value (pair-encoding belongs to the
                // two-\uXXXX form), and a lone surrogate is unencodable
                val cp = java.lang.Long.parseLong(hex, 16)
                require(cp <= Int.MaxValue && Character.isValidCodePoint(cp.toInt) &&
                    !(cp >= 0xD800L && cp <= 0xDFFFL),
                  s"out-of-range \\U escape '\\U$hex' (not a valid Unicode " +
                    s"scalar value) in literal near ...${q.substring(i, math.min(n, i + 16))}")
                sb ++= new String(Character.toChars(cp.toInt))
                i += 10
              case other => sb += other; i += 2 // \" \' \\
            }
          }
          else { sb += q(i); i += 1 }
        }
        out += sb.append('"').toString; i += 1
      }
      else if ("{}().;,/^*+".contains(c)) { out += c.toString; i += 1 }
      else if (c == '&' || c == '|') {
        // '&&'/'||' are the boolean connectives; a single '|' separates
        // the members of a negated property set !(p1|p2)
        if (i + 1 < n && q(i + 1) == c) { out += q.substring(i, i + 2); i += 2 }
        else { out += c.toString; i += 1 }
      }
      else if ("=<>!".contains(c)) {
        if (i + 1 < n && q(i + 1) == '=') { out += q.substring(i, i + 2); i += 2 }
        else { out += c.toString; i += 1 }
      }
      else {
        var j = i
        while (j < n && !q(j).isWhitespace && !"{}()<>=!&|.;,/^*+".contains(q(j))) j += 1
        // allow dots inside numbers and prefixed names (e.g. 0.5)
        if (j < n && q(j) == '.' && j + 1 < n && q(j + 1).isDigit) {
          var k = j + 1
          while (k < n && (q(k).isDigit)) k += 1
          j = k
        }
        out += q.substring(i, j); i = j
      }
    }
    out.toList
  }

  // ----------------------------------------------------------------- parser

  private sealed trait Element
  private final case class Triple(s: String, p: String, o: String) extends Element
  private final case class Opt(group: List[Element]) extends Element
  private final case class FilterCond(e: Expr) extends Element
  private final case class Graphed(g: String, group: List[Element]) extends Element
  private final case class Union(left: List[Element], right: List[Element]) extends Element
  private final case class Bind(value: Expr, varName: String) extends Element
  /** VALUES ?v { t... } or VALUES (?a ?b) { (t t)... } — inline data. */
  private final case class Values(names: List[String],
      rows: List[List[String]]) extends Element
  private final case class SubSelect(query: Query) extends Element
  /** FILTER EXISTS { group } / FILTER NOT EXISTS { group } — semi/anti
    * join of the current bindings against the inner group. `minus` marks
    * the MINUS form, whose no-shared-variable semantics differ (SPARQL
    * 1.1 §8.3.3: solutions with disjoint domains are NOT compatible, so
    * MINUS removes nothing — NOT EXISTS would remove everything). */
  private final case class Exists(group: List[Element], negated: Boolean,
      minus: Boolean = false) extends Element
  /** `s path o` for one property-path step that is not a plain or
    * inverted link — compiled to a (src, dst) pair relation by
    * [[pathPairs]]. */
  private final case class PathTriple(s: String, path: PathAst, o: String) extends Element

  /** Property-path AST (§9.1). */
  private sealed trait PathAst
  private final case class PLink(p: String) extends PathAst
  private final case class PNeg(preds: List[String]) extends PathAst
  private final case class PInv(e: PathAst) extends PathAst
  private final case class PSeq(l: PathAst, r: PathAst) extends PathAst
  private final case class PAlt(l: PathAst, r: PathAst) extends PathAst
  private final case class PClosure(e: PathAst, mod: Char) extends PathAst // * + ?
  private final case class PRangeP(e: PathAst, lo: Int, hi: Option[Int]) extends PathAst
  /** SERVICE [SILENT] <endpoint> { group } — SPARQL 1.1 federation. The
    * inner group is kept as its (prefix-expanded) token span and shipped
    * verbatim to the remote endpoint as `SELECT * WHERE {…}`. */
  private final case class Service(url: String, silent: Boolean,
      rawTokens: List[String]) extends Element

  /** SPARQL expression AST (FILTER conditions, BIND values, SELECT
    * expression projections). Terms are stored as raw tokens — compiled
    * to Columns by [[Sparql.exprColumn]]. */
  private sealed trait Expr
  private final case class EVar(name: String) extends Expr
  private final case class ETerm(token: String) extends Expr
  private final case class ECall(fn: String, args: List[Expr]) extends Expr
  private final case class EBin(op: String, l: Expr, r: Expr) extends Expr
  private final case class ENot(e: Expr) extends Expr
  private final case class ENeg(e: Expr) extends Expr
  /** An aggregate call inside a SELECT expression, e.g.
    * `(COUNT(?v) * 2 AS ?d)` — compiled to a hidden aggregate column the
    * surrounding expression references. Only legal in SELECT position. */
  private final case class EAgg(fn: String, arg: String, distinct: Boolean,
      sep: Option[String]) extends Expr

  private sealed trait SelectItem
  private final case class PlainVar(name: String) extends SelectItem
  /** e.g. (COUNT(?msg) AS ?msgCount); arg "*" for COUNT(*). */
  private final case class AggItem(fn: String, arg: String, distinct: Boolean,
      alias: String, sep: Option[String] = None) extends SelectItem
  /** Non-aggregate expression projection `(expr AS ?alias)` (SPARQL 1.1
    * §16.1.2); evaluated over the (possibly grouped) solution. */
  private final case class ExprItem(e: Expr, alias: String) extends SelectItem

  private sealed trait OrderKey
  private final case class VarKey(name: String) extends OrderKey
  private final case class AggKey(fn: String, arg: String) extends OrderKey

  /** HAVING (AGG([DISTINCT] ?v) op value) — filter on an aggregated
    * group; the DISTINCT modifier is honored (or rejected loudly). */
  private final case class Having(fn: String, arg: String, op: String,
      value: String, distinct: Boolean = false)

  private final case class Query(
      distinct: Boolean, items: Seq[SelectItem], group: List[Element],
      groupBy: Seq[String], orderBy: Seq[(OrderKey, Boolean)],
      limit: Option[Int], offset: Option[Int] = None,
      having: Option[Having] = None,
      from: Seq[String] = Nil, fromNamed: Seq[String] = Nil)

  /** Strip PREFIX declarations and expand declared prefixed names into
    * full <iri> tokens (SPARQL 1.1 §4.1.1). Only prefixes the query
    * declares are expanded — bare `ns:local` tokens with no declaration
    * pass through untouched (this engine's stores use them as literal
    * IRI strings). */
  private def expandPrefixes(tokens: List[String]): List[String] = {
    val prefixes = scala.collection.mutable.HashMap[String, String]()
    val rest = scala.collection.mutable.ListBuffer[String]()
    var ts = tokens
    while (ts.nonEmpty) {
      ts match {
        case p :: decl :: iri :: tail if p.equalsIgnoreCase("PREFIX") &&
            decl.endsWith(":") && iri.startsWith("<") =>
          prefixes(decl.dropRight(1)) = iri.substring(1, iri.length - 1)
          ts = tail
        case h :: tail => rest += h; ts = tail
        case Nil => ()
      }
    }
    val Pname = "^([A-Za-z][A-Za-z0-9_-]*):(.*)$".r
    rest.toList.map {
      case t @ Pname(p, local) if prefixes.contains(p) &&
          !t.startsWith("<") && !t.startsWith("\"") =>
        "<" + prefixes(p) + local + ">"
      case t => t
    }
  }

  private val AggFns =
    Set("COUNT", "SUM", "MIN", "MAX", "AVG", "GROUP_CONCAT", "SAMPLE")

  private class P(var tokens: List[String]) {
    def peek: String = tokens.headOption.getOrElse("")
    def peek2: String = tokens.drop(1).headOption.getOrElse("")
    def next(): String = { val h = tokens.head; tokens = tokens.tail; h }
    def expect(t: String): Unit = {
      val h = next()
      require(h.equalsIgnoreCase(t), s"expected $t, got $h")
    }

    private def aggExpr(): (String, String, Boolean, Option[String]) = {
      val fn = next().toUpperCase
      require(AggFns.contains(fn), s"unsupported aggregate $fn")
      expect("(")
      val distinct = peek.equalsIgnoreCase("DISTINCT") && { next(); true }
      val arg = next() // ?var or *
      // GROUP_CONCAT(?x; SEPARATOR="..") — SPARQL 1.1 §11.4.7
      val sep =
        if (peek == ";") {
          next(); expect("SEPARATOR"); expect("=")
          Some(termValue(next()))
        } else None
      expect(")")
      (fn, arg, distinct, sep)
    }

    def query(): Query = {
      expect("SELECT")
      val distinct = peek.equalsIgnoreCase("DISTINCT") && { next(); true }
      val items = scala.collection.mutable.ListBuffer[SelectItem]()
      var star = false
      while (peek.startsWith("?") || peek == "*" || peek == "(") {
        if (peek == "(") {
          // (expr AS ?alias) — a bare aggregate call stays an AggItem
          // (ORDER BY matching, HAVING reuse); anything else, aggregates
          // included, is an expression projection
          next()
          val e = expr()
          expect("AS")
          val alias = next().stripPrefix("?")
          expect(")")
          items += (e match {
            case EAgg(fn, arg, dist, sep) => AggItem(fn, arg, dist, alias, sep)
            case other => ExprItem(other, alias)
          })
        } else {
          val t = next()
          if (t == "*") star = true else items += PlainVar(t.drop(1))
        }
      }
      // dataset clauses (SPARQL 1.1 §13.2): FROM <g> merges into the
      // default graph, FROM NAMED <g> populates the named-graph set
      val from = scala.collection.mutable.ListBuffer[String]()
      val fromNamed = scala.collection.mutable.ListBuffer[String]()
      while (peek.equalsIgnoreCase("FROM")) {
        next()
        if (peek.equalsIgnoreCase("NAMED")) { next(); fromNamed += termValue(next()) }
        else from += termValue(next())
      }
      if (peek.equalsIgnoreCase("WHERE")) next() // WHERE is optional
      val g = block()
      val order = scala.collection.mutable.ListBuffer[(OrderKey, Boolean)]()
      var having: Option[Having] = None
      var limit: Option[Int] = None
      var offset: Option[Int] = None
      val groupVars = scala.collection.mutable.ListBuffer[String]()
      while (tokens.nonEmpty && peek != "}") {
        if (peek.equalsIgnoreCase("GROUP")) {
          next(); expect("BY")
          while (peek.startsWith("?")) groupVars += next().drop(1)
        } else if (peek.equalsIgnoreCase("HAVING")) {
          next(); expect("(")
          val (fn, arg, dist, _) = aggExpr()
          val op = next()
          val v = next()
          expect(")")
          having = Some(Having(fn, arg, op, v, dist))
        } else if (peek.equalsIgnoreCase("OFFSET")) {
          next(); offset = Some(next().toInt)
        } else if (peek.equalsIgnoreCase("ORDER")) {
          next(); expect("BY")
          def oneKey(): (OrderKey, Boolean) = {
            var desc = false
            val key: OrderKey =
              if (peek.equalsIgnoreCase("DESC") || peek.equalsIgnoreCase("ASC")) {
                desc = next().equalsIgnoreCase("DESC")
                expect("(")
                val k =
                  if (peek.startsWith("?")) VarKey(next().drop(1))
                  else { val (fn, arg, _, _) = aggExpr(); AggKey(fn, arg) }
                expect(")")
                k
              } else if (AggFns.contains(peek.toUpperCase)) {
                val (fn, arg, _, _) = aggExpr(); AggKey(fn, arg)
              } else VarKey(next().stripPrefix("?"))
            // postfix DESC/ASC — but not when it opens the NEXT key's
            // prefix form (DESC(?v))
            if (peek.equalsIgnoreCase("DESC") && peek2 != "(") { desc = true; next() }
            else if (peek.equalsIgnoreCase("ASC") && peek2 != "(") next()
            (key, desc)
          }
          order += oneKey()
          // further sort keys until a non-key token (LIMIT/OFFSET/...)
          while (peek.startsWith("?") || AggFns.contains(peek.toUpperCase) ||
            peek.equalsIgnoreCase("DESC") || peek.equalsIgnoreCase("ASC"))
            order += oneKey()
        } else if (peek.equalsIgnoreCase("LIMIT")) {
          next(); limit = Some(next().toInt)
        } else sys.error(s"unexpected token ${peek}")
      }
      Query(distinct, if (star) Seq.empty else items.toSeq, g,
        groupVars.toSeq, order.toList, limit, offset, having,
        from.toList, fromNamed.toList)
    }

    private var freshId = 0
    private def fresh(): String = { freshId += 1; s"?__path$freshId" }

    /** Parse the triples after one subject: `s path o (, o)* (; path o...)*`
      * over the property-path grammar in the header, translated as
      * SPARQL 1.1 §18.4 does: a top-level sequence splits at fresh
      * variables, a link or an inverted link becomes a plain [[Triple]]
      * for the BGP planner, and every other step one [[PathTriple]]. */
    private def triples(elems: scala.collection.mutable.ListBuffer[Element]): Unit = {
      def seqSteps(e: PathAst): List[PathAst] = e match {
        case PSeq(l, r) => seqSteps(l) ++ seqSteps(r)
        case other => List(other)
      }
      val s = term()
      var done = false
      while (!done) {
        val steps = seqSteps(pathExpr())
        var moreObjects = true
        while (moreObjects) {
          val o = objTerm()
          var subj = s
          steps.zipWithIndex.foreach { case (step, i) =>
            val obj = if (i == steps.size - 1) o else fresh()
            elems += (step match {
              case PLink(p) => Triple(subj, p, obj)
              case PInv(PLink(p)) => Triple(obj, p, subj)
              case other => PathTriple(subj, other, obj)
            })
            subj = obj
          }
          moreObjects = peek == "," && { next(); true }
        }
        if (peek == ";") { next(); done = peek == "." || peek == "}" }
        else done = true
      }
      if (peek == ".") next()
    }

    private def pathPrimary(): PathAst =
      if (peek == "(") { next(); val e = pathExpr(); expect(")"); e }
      else if (peek == "!") {
        next()
        val preds = scala.collection.mutable.ListBuffer[String]()
        if (peek == "(") {
          next(); preds += pterm()
          while (peek == "|") { next(); preds += pterm() }
          expect(")")
        } else preds += pterm()
        PNeg(preds.toList)
      }
      else PLink(pterm())

    private def pathElt(): PathAst = {
      val inv = peek == "^" && { next(); true }
      val base0 = pathPrimary()
      val base = if (inv) PInv(base0) else base0
      if (peek == "*" || peek == "+" || peek == "?") PClosure(base, next().head)
      else if (peek == "{") {
        next()
        val lo = next().toInt
        val hi: Option[Int] =
          if (peek == ",") { next(); if (peek == "}") None else Some(next().toInt) }
          else Some(lo)
        expect("}")
        require(lo >= 0, s"bad path quantifier lower bound $lo")
        hi.foreach(h => require(h >= lo && h >= 1, s"bad path quantifier {$lo,$h}"))
        (lo, hi) match {
          case (0, None) => PClosure(base, '*')
          case (1, None) => PClosure(base, '+')
          case (0, Some(1)) => PClosure(base, '?')
          case (1, Some(1)) => base
          case _ => PRangeP(base, lo, hi)
        }
      }
      else base
    }

    private def pathSeq(): PathAst = {
      var e = pathElt()
      while (peek == "/") { next(); e = PSeq(e, pathElt()) }
      e
    }

    private def pathExpr(): PathAst = {
      var e = pathSeq()
      while (peek == "|") { next(); e = PAlt(e, pathSeq()) }
      e
    }

    /** Consume a braced group WITHOUT parsing it — the nesting-aware raw
      * token span, for shipping to a SERVICE endpoint verbatim. */
    def rawBlock(): List[String] = {
      expect("{")
      val out = scala.collection.mutable.ListBuffer[String]()
      var depth = 1
      while (depth > 0) {
        val t = next()
        if (t == "{") depth += 1
        else if (t == "}") depth -= 1
        if (depth > 0) out += t
      }
      out.toList
    }

    def block(): List[Element] = {
      expect("{")
      val elems = scala.collection.mutable.ListBuffer[Element]()
      while (peek != "}") {
        if (peek.equalsIgnoreCase("OPTIONAL")) {
          next(); elems += Opt(block())
          if (peek == ".") next()
        }
        else if (peek.equalsIgnoreCase("FILTER")) {
          next()
          if (peek.equalsIgnoreCase("EXISTS")) {
            next(); elems += Exists(block(), negated = false)
            if (peek == ".") next()
          } else if (peek.equalsIgnoreCase("NOT")) {
            next(); expect("EXISTS"); elems += Exists(block(), negated = true)
            if (peek == ".") next()
          } else elems += filter()
        }
        else if (peek.equalsIgnoreCase("MINUS")) {
          // SPARQL MINUS: drop solutions compatible with the inner group
          // on their shared variables — an anti-join when variables are
          // shared; with NO shared variables MINUS keeps every solution
          // (§8.3.3), handled at compile time via the `minus` flag
          next(); elems += Exists(block(), negated = true, minus = true)
          if (peek == ".") next()
        }
        else if (peek.equalsIgnoreCase("GRAPH")) {
          next(); val g = term(); elems += Graphed(g, block())
        }
        else if (peek.equalsIgnoreCase("SERVICE")) {
          next()
          val silent = peek.equalsIgnoreCase("SILENT") && { next(); true }
          val ep = term()
          require(ep.startsWith("<"),
            "SERVICE requires a literal endpoint IRI (variable endpoints unsupported)")
          elems += Service(ep.substring(1, ep.length - 1), silent, rawBlock())
          if (peek == ".") next()
        }
        else if (peek.equalsIgnoreCase("BIND")) {
          next(); expect("(")
          val e = expr(); expect("AS"); val name = term(); expect(")")
          elems += Bind(e, name.stripPrefix("?"))
        }
        else if (peek.equalsIgnoreCase("VALUES")) {
          next()
          val names = scala.collection.mutable.ListBuffer[String]()
          if (peek == "(") {
            next(); while (peek != ")") names += term().stripPrefix("?")
            expect(")")
          } else names += term().stripPrefix("?")
          expect("{")
          val rows = scala.collection.mutable.ListBuffer[List[String]]()
          while (peek != "}") {
            if (peek == "(") {
              next()
              val r = scala.collection.mutable.ListBuffer[String]()
              while (peek != ")") r += objTerm()
              expect(")")
              require(r.size == names.size, "VALUES row arity mismatch")
              rows += r.toList
            } else rows += List(objTerm())
          }
          expect("}")
          elems += Values(names.toList, rows.toList)
        }
        else if (peek == "{") {
          if (peek2.equalsIgnoreCase("SELECT")) {
            next()
            elems += SubSelect(query())
            expect("}")
          } else {
            val left = block()
            expect("UNION")
            val right = block()
            elems += Union(left, right)
          }
        }
        else triples(elems)
      }
      expect("}")
      elems.toList
    }

    def filter(): FilterCond = {
      expect("(")
      val e = expr()
      expect(")")
      FilterCond(e)
    }

    // ------------------------------------------------------ expressions
    // Precedence: || < && < comparison < additive < multiplicative <
    // unary (!/-) < primary. Subtraction of variables needs surrounding
    // whitespace (`?a - ?b`) — '-' stays inside tokens so negative
    // numbers and hyphenated barewords lex whole.

    def expr(): Expr = {
      var e = andExpr()
      while (peek == "||") { next(); e = EBin("||", e, andExpr()) }
      e
    }
    private def andExpr(): Expr = {
      var e = relExpr()
      while (peek == "&&") { next(); e = EBin("&&", e, relExpr()) }
      e
    }
    private def relExpr(): Expr = {
      val l = addExpr()
      if (Seq("=", "!=", "<", "<=", ">", ">=").contains(peek))
        EBin(next(), l, addExpr())
      else l
    }
    private def addExpr(): Expr = {
      var e = mulExpr()
      while (peek == "+" || peek == "-") { e = EBin(next(), e, mulExpr()) }
      e
    }
    private def mulExpr(): Expr = {
      var e = unaryExpr()
      while (peek == "*" || peek == "/") { e = EBin(next(), e, unaryExpr()) }
      e
    }
    private def unaryExpr(): Expr =
      if (peek == "!") { next(); ENot(unaryExpr()) }
      else if (peek == "-") { next(); ENeg(unaryExpr()) }
      else if (peek == "+") { next(); unaryExpr() }
      else primaryExpr()
    private def primaryExpr(): Expr =
      if (peek == "(") { next(); val e = expr(); expect(")"); e }
      else if (AggFns.contains(peek.toUpperCase) && peek2 == "(") {
        val (fn, arg, dist, sep) = aggExpr()
        EAgg(fn, arg, dist, sep)
      }
      else if (Sparql.ExprFns.contains(peek.toUpperCase) && peek2 == "(") {
        val fn = next().toUpperCase
        expect("(")
        val args = scala.collection.mutable.ListBuffer[Expr]()
        if (peek != ")") {
          args += expr()
          while (peek == ",") { next(); args += expr() }
        }
        expect(")")
        ECall(fn, args.toList)
      }
      else {
        val t = objTerm() // absorbs "lit"^^<dt> / "lit"@lang suffixes
        if (t.startsWith("?")) EVar(t.drop(1)) else ETerm(t)
      }

    def term(): String = next()

    /** Object-position term: a quoted literal may carry `^^<datatype>`
      * or `@lang` (SPARQL typed/tagged literals); the suffix is folded
      * into the token and split back by [[Sparql.literalParts]]. */
    def objTerm(): String = {
      val t = term()
      if (t.startsWith("\"")) {
        if (peek == "^" && peek2 == "^") { next(); next(); t + "^^" + next() }
        else if (peek.length > 1 && peek.startsWith("@")) t + next()
        else t
      } else t
    }

    /** Predicate term: 'a' abbreviates rdf:type (as this repo's converters
      * spell it). */
    def pterm(): String = {
      val t = next()
      if (t == "a") "rdf:type" else t
    }

  }

  // --------------------------------------------------------------- compile

  /** Split a (possibly `^^<dt>`/`@lang`-suffixed) literal token into
    * (value, datatype, lang) — datatype/lang null when absent. Non-quoted
    * tokens pass through with null metadata. */
  private val LitSuffix = """(?s)^"(.*)"(?:\^\^<([^>]*)>|@([A-Za-z0-9-]+))?$""".r
  private[rdf] def literalParts(tok: String): (String, String, String) = tok match {
    case LitSuffix(v, dt, lang) => (v, dt, lang)
    case _ => (tok, null, null)
  }

  private def termValue(t: String): String =
    if (t.startsWith("<")) t.substring(1, t.length - 1)
    else if (t.startsWith("\"")) literalParts(t)._1
    else t

  private def toPattern(t: Triple, g: Option[String]): Bgp.Pattern = {
    def cv(x: String) = if (x.startsWith("?")) x else termValue(x)
    Bgp.Pattern(cv(t.s), cv(t.p), cv(t.o), g.map(termValue))
  }

  /** Pair-relation compiler for property paths (SPARQL 1.1 §18.4): every
    * sub-path evaluates to a (src, dst) relation. A link, `!(…)`, `^`,
    * `/` (an equi-join) and `|` (a union) keep bag semantics, as their
    * §18.4 translations to triple patterns, joins and unions do; `*`,
    * `+`, `?` and `{n,m}` are sets. Closure is the budgeted transitive
    * closure, zero-length the node-identity relation over every term of
    * the scoped graph (§9.3). All operators stay relational — the same
    * shuffles a hand-written join chain would plan. `srcKind`/`dstKind`
    * add an end's term kind as a column of that name: a link's src is a
    * resource and its dst has its `oKind`, `^` swaps them, and the ends
    * of a set of pairs take one kind per node (IRI, then blank node). */
  private def pathPairs(quads: DataFrame, ast: PathAst, graph: Option[String],
      srcKind: Boolean, dstKind: Boolean): DataFrame = {
    val scoped = graph.map(g => quads.where(col("g") === termValue(g))).getOrElse(quads)
    lazy val identity = scoped.select(col("s").as("src"))
      .union(scoped.select(col("o").as("src"))).distinct()
      .select(col("src"), col("src").as("dst"))
    lazy val nodes = scoped.select(col("s").as("n"), Bgp.resourceKind(col("s")).as("k"))
      .union(scoped.select(col("o").as("n"), col("oKind").as("k")))
    def ends(df: DataFrame, src: Column, dst: Column,
        sk: Option[Column], dk: Option[Column]): DataFrame =
      df.select(Seq(src.as("src"), dst.as("dst")) ++
        sk.map(_.as("srcKind")) ++ dk.map(_.as("dstKind")): _*)
    def link(pred: Column, ks: Boolean, kd: Boolean): DataFrame =
      ends(scoped.where(pred), col("s"), col("o"),
        Option.when(ks)(Bgp.resourceKind(col("s"))), Option.when(kd)(col("oKind")))
    def closure(x: PathAst): DataFrame =
      graft.graph.GraphOps.transitiveClosure(eval(x)).select(col("src"), col("dst"))
    // each end takes the least kind its node has in the repeated step's
    // pairs (or anywhere in scope, with zero-length pairs)
    def nodeKinds(pairs: DataFrame, x: PathAst, zeroLength: Boolean,
        ks: Boolean, kd: Boolean): DataFrame = {
      val step = eval(x, ks = true, kd = true)
      val stepNodes = step.select(col("src").as("n"), col("srcKind").as("k"))
        .union(step.select(col("dst").as("n"), col("dstKind").as("k")))
      val kinds = (if (zeroLength) stepNodes.union(nodes) else stepNodes)
        .groupBy("n").agg(min("k").as("k"))
      def attach(df: DataFrame, end: String, on: Boolean) =
        if (!on) df
        else df.join(kinds.select(col("n").as(end), col("k").as(end + "Kind")), Seq(end))
      attach(attach(pairs, "src", ks), "dst", kd)
    }
    def eval(e: PathAst, ks: Boolean = false, kd: Boolean = false): DataFrame = e match {
      case PLink(p) => link(col("p") === termValue(p), ks, kd)
      case PNeg(preds) => link(!col("p").isin(preds.map(termValue): _*), ks, kd)
      case PInv(x) => ends(eval(x, kd, ks), col("dst"), col("src"),
        Option.when(ks)(col("dstKind")), Option.when(kd)(col("srcKind")))
      case PAlt(l, r) => eval(l, ks, kd).unionByName(eval(r, ks, kd))
      case PSeq(l, r) =>
        ends(eval(l, ks, kd = false).alias("a")
            .join(eval(r, ks = false, kd).alias("b"), col("a.dst") === col("b.src")),
          col("a.src"), col("b.dst"),
          Option.when(ks)(col("a.srcKind")), Option.when(kd)(col("b.dstKind")))
      case PClosure(x, mod) if ks || kd => nodeKinds(eval(e), x, mod != '+', ks, kd)
      case PRangeP(x, lo, _) if ks || kd => nodeKinds(eval(e), x, lo == 0, ks, kd)
      case PClosure(x, '+') => closure(x).distinct()
      case PClosure(x, '*') => closure(x).union(identity).distinct()
      case PClosure(x, _) => // '?'
        eval(x).union(identity).distinct()
      case PRangeP(x, lo, hi) =>
        // exact-k-hop pairs for k in [lo, hi], one join per level (hi is
        // a small constant in any real query); an unbounded tail reuses
        // the closure
        val edges = eval(x).distinct()
        def step(acc: DataFrame): DataFrame = acc.alias("a")
          .join(edges.alias("e"), col("a.dst") === col("e.src"))
          .select(col("a.src").as("src"), col("e.dst").as("dst")).distinct()
        val levels = scala.collection.mutable.ListBuffer[DataFrame]()
        var cur = edges
        var k = 1
        while (k < lo) { cur = step(cur); k += 1 }
        hi match {
          case Some(h) =>
            levels += cur
            while (k < h) { cur = step(cur); k += 1; levels += cur }
          case None =>
            levels += cur
            levels += cur.alias("a")
              .join(closure(x).alias("c"), col("a.dst") === col("c.src"))
              .select(col("a.src").as("src"), col("c.dst").as("dst"))
        }
        val base = levels.reduceLeft(_ union _)
        (if (lo > 0) base else base.union(identity)).distinct()
    }
    eval(ast, srcKind, dstKind)
  }

  /** Whether every solution of `group` binds every variable it mentions:
    * no OPTIONAL, UNION, BIND, VALUES, sub-select or SERVICE can leave one
    * unbound. */
  private def alwaysBinds(group: List[Element]): Boolean = group.forall {
    case _: Triple | _: PathTriple | _: FilterCond | _: Exists => true
    case Graphed(_, inner) => alwaysBinds(inner)
    case _ => false
  }

  /** Bind a pair relation's ends to the path triple's subject and object:
    * a constant filters its end, a variable names it (an end's kind
    * becomes its metadata), and `?x path ?x` keeps the pairs with
    * `src = dst` under one column. */
  private def bindPathEnds(pairs: DataFrame, s: String, o: String): DataFrame = {
    def name(df: DataFrame, end: String, v: String): DataFrame = {
      val named = df.withColumnRenamed(end, v)
      if (!df.columns.contains(end + "Kind")) named
      else withMeta(named, v, Seq(col(end + "Kind"), lit(null), lit(null))).drop(end + "Kind")
    }
    if (s.startsWith("?") && s == o)
      name(pairs.where(col("src") === col("dst")).drop("dst", "dstKind"), "src", s.drop(1))
    else {
      val withS =
        if (s.startsWith("?")) name(pairs, "src", s.drop(1))
        else pairs.where(col("src") === termValue(s)).drop("src", "srcKind")
      if (o.startsWith("?")) name(withS, "dst", o.drop(1))
      else withS.where(col("dst") === termValue(o)).drop("dst", "dstKind")
    }
  }

  private def metaCols(v: String): Seq[String] = Seq(s"__kind_$v", s"__dt_$v", s"__lang_$v")

  /** `df` with variable `v`'s metadata set to (kind, datatype, language). */
  private def withMeta(df: DataFrame, v: String, meta: Seq[Column]): DataFrame =
    df.withColumns(metaCols(v).zip(meta.zip(Seq("byte", "string", "string")).map {
      case (c, t) => c.cast(t) }).toMap)

  /** `namedQuads` is the store GRAPH-scoped patterns see — it differs
    * from `quads` only under FROM/FROM NAMED dataset clauses (null =
    * same store). */
  private def compileGroup(
      quads: DataFrame, group: List[Element], graph: Option[String],
      metaVars: Set[String] = Set.empty,
      namedQuads: DataFrame = null): DataFrame = {
    val named = Option(namedQuads).getOrElse(quads)
    var current: Option[DataFrame] = None
    // Term-metadata side columns (__dt_/__lang_/__kind_) must NEVER be
    // join keys: dt/lang are null for plain literals and null = null is
    // false under join equality, so two sub-groups both carrying metadata
    // for a shared variable would silently drop every plain-literal
    // solution. The first binding set to project a variable's metadata
    // wins (the bgpMeta claimed-set convention, extended across groups);
    // the right side's duplicates are dropped before the join.
    def isMetaCol(c: String): Boolean =
      c.startsWith("__dt_") || c.startsWith("__lang_") || c.startsWith("__kind_")
    def dropDupMeta(acc: DataFrame, df: DataFrame): DataFrame = {
      val dup = df.columns.filter(c => isMetaCol(c) && acc.columns.contains(c))
      if (dup.isEmpty) df else df.drop(dup.toIndexedSeq: _*)
    }
    def join(df: DataFrame): Unit = current = current match {
      case None => Some(df)
      case Some(acc) =>
        val right = dropDupMeta(acc, df)
        val shared = acc.columns.intersect(right.columns).toSeq
        Some(if (shared.nonEmpty) acc.join(right, shared) else acc.crossJoin(right))
    }
    // triples first (they define bindings), then paths/graph/union/sub-
    // select groups, then OPTIONAL, then FILTER — SPARQL group semantics
    // for this subset
    val (triples, rest) = group.partition(_.isInstanceOf[Triple])
    if (triples.nonEmpty)
      join(Bgp.bgpMeta(quads,
        triples.map(t => toPattern(t.asInstanceOf[Triple], graph)), metaVars))
    rest.foreach {
      case PathTriple(s, path, o) =>
        // an end asks for its kind unless the BGP already carries it
        def asks(t: String) = t.startsWith("?") && metaVars(t.drop(1)) &&
          !current.exists(_.columns.contains(s"__kind_${t.drop(1)}"))
        join(bindPathEnds(pathPairs(quads, path, graph, asks(s), asks(o)), s, o))
      case Exists(inner, negated, minus) =>
        val left = current.getOrElse(sys.error("FILTER EXISTS without preceding bindings"))
        // the inner group binds nothing outside: it carries metadata only
        // for its own builtins, and the semi/anti join is on the shared
        // VARIABLES only (see dropDupMeta note)
        val right = compileGroup(quads, inner, graph, metaVarsOf(inner, Set.empty), named)
        val shared = left.columns.intersect(right.columns)
          .filterNot(isMetaCol).toSeq
        if (shared.isEmpty) {
          // MINUS with disjoint variable domains removes nothing: keep
          // `left` untouched. FILTER (NOT) EXISTS without shared
          // variables is a scalar emptiness test: all solutions survive
          // or none do. The probe is one driver-side isEmpty action at
          // compile time (bounded — first row short-circuits).
          if (!minus) {
            val innerEmpty = right.isEmpty
            val keepAll = if (negated) innerEmpty else !innerEmpty
            if (!keepAll) current = Some(left.limit(0))
          }
        }
        else {
          val how = if (negated) "left_anti" else "left_semi"
          // an unbound variable (an OPTIONAL's null) is compatible with any
          // value (SPARQL 1.1 §18.5; EXISTS substitutes bound values only),
          // and MINUS also needs one shared variable bound on both sides:
          // a null-tolerant match, which no equi-join expresses
          val r = right.select(shared.map(c => col(c).as(s"__x_$c")): _*)
          def x(c: String) = col(s"__x_$c")
          val compatible = shared.map(c =>
            col(c).isNull || x(c).isNull || col(c) === x(c)).reduce(_ && _)
          val overlap =
            if (minus) shared.map(c => col(c).isNotNull && x(c).isNotNull).reduce(_ || _)
            else lit(true)
          def tolerant(df: DataFrame) = df.join(r, compatible && overlap, how)
          val bound = shared.map(c => col(c).isNotNull).reduce(_ && _)
          current = Some(
            if (!alwaysBinds(inner)) tolerant(left)
            else if (alwaysBinds(group)) left.join(right, shared, how)
            // only solutions with an unbound shared variable leave the
            // equi-join
            else left.where(bound).join(right, shared, how)
              .unionByName(tolerant(left.where(!bound))))
        }
      case SubSelect(q) => join(compileQuery(quads, q, named, metaVars))
      case Service(url, silent, raw) =>
        // SPARQL 1.1 federation: ship the inner group to the remote
        // endpoint as SELECT *, materialize its (bounded) binding set
        // once, join on shared variables. SILENT failure = the unit
        // table (current bindings pass through unchanged).
        serviceBindings(quads.sparkSession, url, silent, raw).foreach(join)
      case Graphed(g, inner) => join(compileGroup(named, inner, Some(g), metaVars, named))
      case Union(l, r) =>
        join(Bgp.union(compileGroup(quads, l, graph, metaVars, named),
          compileGroup(quads, r, graph, metaVars, named)))
      case Opt(inner) =>
        val left = current.getOrElse(sys.error("OPTIONAL without preceding bindings"))
        // the inner group (a BGP, or e.g. a UNION inside OPTIONAL,
        // AgentMatchEnricher.scala:105-111) left-outer joins on the
        // shared variables (metadata side columns excluded — see
        // dropDupMeta note)
        val right = dropDupMeta(left, compileGroup(quads, inner, graph, metaVars, named))
        val shared = left.columns.intersect(right.columns).toSeq
        current = Some(left.join(right, shared, "left_outer"))
      case f: FilterCond =>
        val df = current.getOrElse(sys.error("FILTER without bindings"))
        current = Some(df.where(exprColumn(f.e, df)))
      case Bind(e, name) =>
        val df = current.getOrElse(sys.error("BIND without bindings"))
        val bound = Bgp.bind(df, name, exprColumn(e, df))
        current = Some(if (metaVars(name)) withMeta(bound, name, exprMeta(e, df)) else bound)
      case Values(names, rows) =>
        val df = current.getOrElse(sys.error("VALUES without bindings"))
        // an inline table (a LocalRelation, broadcast-trivial) joined on
        // the variables the group already binds; a token's term comes from
        // its syntax ([[groundKind]]). SPARQL 1.1 §10.2: UNDEF leaves a
        // position unbound — that row is COMPATIBLE with any value of the
        // variable, so the join predicate is (table.v IS NULL OR table.v =
        // group.v) per shared variable, and the merged solution takes
        // whichever side is bound (coalesce).
        import org.apache.spark.sql.types.{ByteType, StringType, StructField, StructType}
        val hasUndef = rows.exists(_.contains("UNDEF"))
        val kinded = names.filter(n => metaVars(n) && !df.columns.contains(s"__kind_$n"))
        def term(v: String): Seq[Any] =
          if (v == "UNDEF") Seq(null, null, null)
          else { val (_, dt, lang) = literalParts(v); Seq(groundKind(v), dt, lang) }
        val tdf = df.sparkSession.createDataFrame(
          java.util.Arrays.asList(rows.map(r => org.apache.spark.sql.Row.fromSeq(
            r.map(v => if (v == "UNDEF") null else termValue(v)) ++
              kinded.flatMap(n => term(r(names.indexOf(n)))))): _*),
          StructType((names.map((_, StringType)) ++ kinded.flatMap(n =>
            metaCols(n).zip(Seq(ByteType, StringType, StringType))))
            .map { case (n, t) => StructField(n, t) }))
        val shared = names.filter(df.columns.contains)
        current = Some(
          if (shared.isEmpty) df.crossJoin(tdf)
          else if (!hasUndef) df.join(broadcast(tdf), shared)
          else {
            val t = shared.foldLeft(tdf) { (acc, v) => acc.withColumnRenamed(v, s"__v_$v") }
            val cond = shared.map(v =>
              t(s"__v_$v").isNull || t(s"__v_$v") === df(v)).reduce(_ && _)
            val joined = df.join(broadcast(t), cond)
            val merged = shared.foldLeft(joined) { (acc, v) =>
              acc.withColumn(v, coalesce(acc(v), acc(s"__v_$v")))
            }
            merged.drop(shared.map(v => s"__v_$v"): _*)
          })
      case _: Triple => () // already handled
    }
    current.getOrElse(sys.error("empty group"))
  }

  /** Builtins the expression grammar recognizes as calls (SPARQL 1.1
    * §17.4 subset). Aggregates are NOT here — they live in SELECT/HAVING
    * position only. */
  private[rdf] val ExprFns = Set(
    "STR", "LANG", "LANGMATCHES", "DATATYPE", "IF", "COALESCE", "BOUND",
    "REGEX", "STRSTARTS", "STRENDS", "CONTAINS", "STRLEN", "UCASE", "LCASE",
    "SUBSTR", "CONCAT", "REPLACE", "ABS", "ROUND", "CEIL", "FLOOR",
    "STRBEFORE", "STRAFTER", "ISIRI", "ISURI", "ISLITERAL", "ISBLANK",
    "ISNUMERIC", "SAMETERM", "IRI", "URI", "BNODE", "ENCODE_FOR_URI",
    "MD5", "SHA1", "SHA256", "SHA384", "SHA512",
    "YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS", "TZ",
    "NOW", "RAND", "UUID", "STRUUID", "STRLANG", "STRDT")

  private val XsdString = "http://www.w3.org/2001/XMLSchema#string"
  private val RdfLangString = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"

  /** Variables whose term METADATA (datatype/lang/kind) an expression
    * needs — LANG/DATATYPE/isIRI-family arguments. */
  private val MetaFns = Set("LANG", "DATATYPE", "ISIRI", "ISURI", "ISLITERAL", "ISBLANK")
  private def builtinVars(e: Expr): Set[String] = e match {
    case ECall(fn, List(EVar(v))) if MetaFns(fn) => Set(v)
    case ECall(_, args) => args.flatMap(builtinVars).toSet
    case EBin(_, l, r) => builtinVars(l) ++ builtinVars(r)
    case ENot(x) => builtinVars(x)
    case ENeg(x) => builtinVars(x)
    case _ => Set.empty
  }

  /** Variables whose term an expression's value can be: a variable, and
    * the arms of IF and COALESCE (see [[exprMeta]]). */
  private def kindSources(e: Expr): Set[String] = e match {
    case EVar(v) => Set(v)
    case ECall("IF", List(_, t, f)) => kindSources(t) ++ kindSources(f)
    case ECall("COALESCE", as) => as.flatMap(kindSources).toSet
    case _ => Set.empty
  }

  /** Aggregates that choose one of their values, and keep its term. */
  private val TermAggs = Set("MIN", "MAX", "SAMPLE")

  /** A group's FILTER and BIND expressions (not its sub-selects'), with
    * the variable each binds. */
  private def exprsOf(elems: List[Element]): List[(Option[String], Expr)] = elems.flatMap {
    case FilterCond(e) => List(None -> e)
    case Bind(e, v) => List(Some(v) -> e)
    case Opt(g) => exprsOf(g)
    case Graphed(_, g) => exprsOf(g)
    case Union(l, r) => exprsOf(l) ++ exprsOf(r)
    case Exists(g, _, _) => exprsOf(g)
    case _ => Nil
  }

  /** The variables whose metadata a group carries: the `asked` ones, the
    * builtins' arguments, and those a BIND, a SELECT expression or a
    * MIN/MAX/SAMPLE in `items` takes such a variable's term from. */
  private def metaVarsOf(group: List[Element], asked: Set[String],
      items: Seq[SelectItem] = Nil): Set[String] = {
    val exprs = exprsOf(group) ++ items.collect { case ExprItem(e, a) => Some(a) -> e }
    val flows = exprs.collect { case (Some(v), e) => v -> kindSources(e) } ++
      items.collect { case AggItem(fn, arg, _, a, _) if TermAggs(fn) => a -> Set(arg.drop(1)) }
    @annotation.tailrec def close(vars: Set[String]): Set[String] = {
      val next = vars ++ flows.filter(f => vars(f._1)).flatMap(_._2)
      if (next == vars) vars else close(next)
    }
    close(asked ++ exprs.flatMap(x => builtinVars(x._2)))
  }

  /** The variables a SELECT list projects (none for `SELECT *`). */
  private def projectedVars(q: Query): Seq[String] = q.items.map {
    case PlainVar(v) => v
    case a: AggItem => a.alias
    case ExprItem(_, a) => a
  }

  private def isNumericTok(t: String) = t.matches("-?[0-9]+(\\.[0-9]+)?")

  /** Statically numeric expressions force a double comparison (store
    * values are strings; `?price > 100` must compare numerically). */
  private def staticNumeric(e: Expr): Boolean = e match {
    case ETerm(t) => isNumericTok(t)
    case EBin(op, _, _) => Set("+", "-", "*", "/")(op)
    case ENeg(_) => true
    case ECall(fn, _) => Set("STRLEN", "ABS", "ROUND", "CEIL", "FLOOR")(fn)
    case EAgg(fn, _, _, _) => Set("COUNT", "SUM", "AVG")(fn)
    case _ => false
  }

  private def litArg(e: Expr, fn: String): String = e match {
    case ETerm(t) => termValue(t)
    case other => sys.error(s"$fn needs a literal argument, got $other")
  }

  /** Compile an expression against the current binding set. `df` supplies
    * column existence checks for the metadata-backed builtins. */
  private def exprColumn(e: Expr, df: DataFrame,
      aggEnv: Map[EAgg, String] = Map.empty): Column = e match {
    case EVar(v) => col(v)
    case a: EAgg =>
      col(aggEnv.getOrElse(a,
        sys.error(s"aggregate ${a.fn} used outside a SELECT expression")))
    case ETerm(t) => if (isNumericTok(t)) lit(t.toDouble) else lit(termValue(t))
    case ENot(x) => !exprColumn(x, df, aggEnv)
    case ENeg(x) => -exprColumn(x, df, aggEnv).cast("double")
    case EBin("&&", l, r) => exprColumn(l, df, aggEnv) && exprColumn(r, df, aggEnv)
    case EBin("||", l, r) => exprColumn(l, df, aggEnv) || exprColumn(r, df, aggEnv)
    case EBin(op, l, r) if Set("+", "-", "*", "/")(op) =>
      val lc = exprColumn(l, df, aggEnv).cast("double")
      val rc = exprColumn(r, df, aggEnv).cast("double")
      op match {
        case "+" => lc + rc
        case "-" => lc - rc
        case "*" => lc * rc
        case "/" => lc / rc
      }
    case EBin(op, l, r) =>
      val numeric = staticNumeric(l) || staticNumeric(r)
      val lc0 = exprColumn(l, df, aggEnv)
      val rc0 = exprColumn(r, df, aggEnv)
      val (lc, rc) =
        if (numeric) (lc0.cast("double"), rc0.cast("double")) else (lc0, rc0)
      op match {
        case "=" => lc === rc
        case "!=" => lc =!= rc
        case "<" => lc < rc
        case "<=" => lc <= rc
        case ">" => lc > rc
        case ">=" => lc >= rc
      }
    case ECall(fn, args) => callColumn(fn, args, df, aggEnv)
  }

  /** (kind, datatype, language) of an expression's value: a variable's own
    * (also as an arm of IF or COALESCE); IRI for `<iri>`, IRI(), URI();
    * BNODE() a blank node; STRLANG/STRDT a tagged/typed literal. Any other
    * value has no kind: a literal to the builtins, shape-typed when served. */
  private def exprMeta(e: Expr, df: DataFrame,
      aggEnv: Map[EAgg, String] = Map.empty): Seq[Column] = {
    def ec(x: Expr) = exprColumn(x, df, aggEnv)
    def meta(x: Expr) = exprMeta(x, df, aggEnv)
    def either(c: Column, a: Seq[Column], b: Seq[Column]) =
      a.zip(b).map(x => when(c, x._1).otherwise(x._2))
    val none = lit(null)
    e match {
      case EVar(v) if df.columns.contains(s"__kind_$v") => metaCols(v).map(col)
      case ETerm(t) if t.startsWith("<") => Seq(lit(Quad.IRI), none, none)
      case ECall("IRI" | "URI", _) => Seq(lit(Quad.IRI), none, none)
      case ECall("BNODE", Nil) => Seq(lit(Quad.BNODE), none, none)
      case ECall("STRLANG", List(_, l)) => Seq(lit(Quad.LITERAL), none, ec(l))
      case ECall("STRDT", List(_, d)) => Seq(lit(Quad.LITERAL), ec(d), none)
      case ECall("IF", List(c, t, f)) => either(ec(c), meta(t), meta(f))
      case ECall("COALESCE", as) => // the first bound argument's term
        as.foldRight(Seq(none, none, none))((a, rest) => either(ec(a).isNotNull, meta(a), rest))
      case _ => Seq(none, none, none)
    }
  }

  /** Execute a SERVICE group against a remote SPARQL endpoint and parse
    * the SPARQL-results-JSON response into a DataFrame of one column per
    * result variable (lexical values — remote term kinds are dropped,
    * like every other computed binding). The remote result set is
    * materialized ONCE per query compilation; scale is bounded by the
    * remote endpoint's answer, which federation inherently requires.
    * Returns None on SILENT failure (SPARQL: the unit table). */
  private def serviceBindings(spark: org.apache.spark.sql.SparkSession,
      url: String, silent: Boolean, rawTokens: List[String]): Option[DataFrame] =
    try {
      import spark.implicits._
      // literal tokens hold DECODED text (the tokenizer resolves \n etc.);
      // re-escape them so the shipped query is valid SPARQL again
      def reescape(t: String): String =
        if (!t.startsWith("\"")) t
        else "\"" + t.substring(1, t.length - 1).flatMap {
          case '\\' => "\\\\"
          case '"' => "\\\""
          case '\n' => "\\n"
          case '\r' => "\\r"
          case '\t' => "\\t"
          case ch => ch.toString
        } + "\""
      val query = "SELECT * WHERE { " + rawTokens.map(reescape).mkString(" ") + " }"
      val uri = java.net.URI.create(url +
        (if (url.contains("?")) "&" else "?") + "query=" +
        java.net.URLEncoder.encode(query, "UTF-8"))
      // bounded I/O: a hung remote must surface as an exception (which
      // SILENT converts to the unit table), not block compilation forever
      val resp = java.net.http.HttpClient.newBuilder()
        .connectTimeout(java.time.Duration.ofSeconds(10)).build().send(
        java.net.http.HttpRequest.newBuilder(uri)
          .timeout(java.time.Duration.ofSeconds(60))
          .header("Accept", "application/sparql-results+json").GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      require(resp.statusCode() == 200, s"SERVICE <$url> answered HTTP ${resp.statusCode()}")
      val parsed = spark.read.json(Seq(resp.body()).toDS())
      val vars = parsed.select(explode(col("head.vars")).as("v"))
        .as[String].collect().toSeq
      val bindingsType = parsed.schema("results").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]("bindings").dataType
      val boundVars = bindingsType match {
        case org.apache.spark.sql.types.ArrayType(
            s: org.apache.spark.sql.types.StructType, _) => s.fieldNames.toSet
        case _ => Set.empty[String] // empty bindings array -> no struct inferred
      }
      val b = parsed.select(explode(col("results.bindings")).as("__b"))
      Some(vars.foldLeft(b) { (acc, v) =>
        acc.withColumn(v,
          if (boundVars(v)) col(s"__b.$v.value") else lit(null).cast("string"))
      }.drop("__b"))
    } catch {
      case _: Exception if silent => None
      case e: Exception => throw e
    }

  /** XPath/XQuery regex flags (SPARQL §17.4.3.14: `s m i x q`) → an
    * embedded Java-regex flag group. `q` (literal pattern) has no inline
    * flag, so the pattern is quoted instead; unknown flags fail loudly
    * rather than silently changing match semantics.
    *
    * `x` is NOT mapped to Java's COMMENTS flag: XPath `x` only removes
    * whitespace (#x9 #xA #xD #x20) from the pattern outside character
    * classes, while COMMENTS additionally treats `#` as a
    * comment-to-end-of-line — a pattern containing a literal `#` under
    * `x` would silently change meaning. Whitespace is stripped here
    * instead (escapes and `[...]` classes preserved, per XQuery F&O
    * §5.6.1.1), and `x` never reaches the Java engine. */
  private def regexWithFlags(pattern: String, flags: String): String = {
    val known = Set('s', 'm', 'i', 'x')
    flags.foreach(f => require(known(f) || f == 'q', s"unsupported REGEX flag '$f'"))
    val p0 =
      if (!flags.contains('x') || flags.contains('q')) pattern
      else {
        val sb = new StringBuilder
        var inClass = false
        var i = 0
        while (i < pattern.length) {
          val c = pattern(i)
          if (c == '\\' && i + 1 < pattern.length) {
            sb += c; sb += pattern(i + 1); i += 2 // escaped char survives verbatim
          } else {
            if (c == '[') inClass = true
            else if (c == ']') inClass = false
            if (inClass || !(c == ' ' || c == '\t' || c == '\n' || c == '\r')) sb += c
            i += 1
          }
        }
        sb.toString
      }
    val p =
      if (flags.contains('q')) java.util.regex.Pattern.quote(p0) else p0
    val inline = flags.filter(c => known(c) && c != 'x')
    if (inline.isEmpty) p else s"(?$inline)$p"
  }

  private def metaCol(df: DataFrame, prefix: String, v: String, fn: String): Column = {
    require(df.columns.contains(s"__${prefix}_$v"),
      s"$fn(?$v): term metadata unavailable — ?$v is unbound in this scope or " +
        "bound by SERVICE, which carries lexical values only")
    col(s"__${prefix}_$v")
  }

  private def callColumn(fn: String, args: List[Expr], df: DataFrame,
      aggEnv: Map[EAgg, String]): Column = {
    def ec(e: Expr): Column = exprColumn(e, df, aggEnv)
    // a bound value without a kind is computed: a literal
    def kindOf(v: String): Column =
      when(col(v).isNotNull, coalesce(metaCol(df, "kind", v, fn), lit(Quad.LITERAL)))
    (fn, args) match {
      // STR: lexical form — this store keeps IRIs and literals as their
      // lexical form already, so STR is the string cast
      case ("STR", List(a)) => ec(a).cast("string")
      case ("LANG", List(EVar(v))) =>
        coalesce(metaCol(df, "lang", v, "LANG"), lit("")) // "" for plain literals, per spec
      case ("DATATYPE", List(EVar(v))) =>
        when(metaCol(df, "lang", v, "DATATYPE").isNotNull, lit(RdfLangString))
          .when(metaCol(df, "dt", v, "DATATYPE").isNotNull, metaCol(df, "dt", v, "DATATYPE"))
          .when(kindOf(v) === lit(Quad.LITERAL), lit(XsdString))
          .otherwise(lit(null).cast("string")) // DATATYPE of an IRI is an error -> unbound
      case ("LANGMATCHES", List(l, r)) =>
        val lang = ec(l)
        val range = ec(r)
        // RFC 4647 basic filtering: '*' matches any non-empty tag; else
        // case-insensitive exact tag or prefix-up-to-subtag-boundary
        when(range === "*", lang =!= "")
          .otherwise(lower(lang) === lower(range) ||
            lower(lang).startsWith(concat(lower(range), lit("-"))))
      case ("IF", List(c, t, f)) =>
        when(ec(c), ec(t)).otherwise(ec(f))
      case ("COALESCE", as) if as.nonEmpty => coalesce(as.map(ec(_)): _*)
      case ("BOUND", List(EVar(v))) => col(v).isNotNull
      case ("REGEX", List(a, p)) => ec(a).rlike(litArg(p, fn))
      case ("REGEX", List(a, p, f)) =>
        ec(a).rlike(regexWithFlags(litArg(p, fn), litArg(f, fn)))
      case ("STRSTARTS", List(a, b)) => ec(a).startsWith(ec(b))
      case ("STRENDS", List(a, b)) => ec(a).endsWith(ec(b))
      case ("CONTAINS", List(a, b)) => ec(a).contains(ec(b))
      case ("STRLEN", List(a)) => length(ec(a))
      case ("UCASE", List(a)) => upper(ec(a))
      case ("LCASE", List(a)) => lower(ec(a))
      case ("SUBSTR", List(a, st)) => // SPARQL is 1-based like SQL
        ec(a).substr(ec(st).cast("int"), lit(Int.MaxValue))
      case ("SUBSTR", List(a, st, ln)) =>
        ec(a).substr(ec(st).cast("int"),
          ec(ln).cast("int"))
      case ("CONCAT", as) if as.nonEmpty =>
        concat(as.map(ec(_).cast("string")): _*)
      case ("REPLACE", List(a, p, r)) =>
        regexp_replace(ec(a), litArg(p, fn), litArg(r, fn))
      case ("REPLACE", List(a, p, r, f)) =>
        regexp_replace(ec(a),
          regexWithFlags(litArg(p, fn), litArg(f, fn)), litArg(r, fn))
      case ("ABS", List(a)) => abs(ec(a).cast("double"))
      case ("ROUND", List(a)) => round(ec(a).cast("double"), 0)
      case ("CEIL", List(a)) => ceil(ec(a).cast("double"))
      case ("FLOOR", List(a)) => floor(ec(a).cast("double"))
      case ("STRBEFORE", List(a, b)) => // "" when the separator is absent, per spec
        val (ac, sep) = (ec(a), litArg(b, fn))
        when(instr(ac, sep) > 0, substring_index(ac, sep, 1)).otherwise(lit(""))
      case ("STRAFTER", List(a, b)) =>
        // suffix after the FIRST occurrence (substring_index(-1) would take
        // the last — wrong when the separator repeats), "" when absent.
        // instr/substr index by Unicode code points, so the offset must be
        // the separator's code-point count, not its UTF-16 length.
        val (ac, sep) = (ec(a), litArg(b, fn))
        when(instr(ac, sep) > 0,
          ac.substr(instr(ac, sep) + lit(sep.codePointCount(0, sep.length)),
            lit(Int.MaxValue)))
          .otherwise(lit(""))
      case ("ISIRI" | "ISURI", List(EVar(v))) => kindOf(v) === lit(Quad.IRI)
      case ("ISLITERAL", List(EVar(v))) => kindOf(v) === lit(Quad.LITERAL)
      case ("ISBLANK", List(EVar(v))) => kindOf(v) === lit(Quad.BNODE)
      case ("ISNUMERIC", List(a)) =>
        // castable-to-double test (SPARQL: value is of a numeric type);
        // try_cast, because under ANSI a plain cast THROWS on non-numerics
        ec(a).try_cast(org.apache.spark.sql.types.DoubleType).isNotNull
      case ("SAMETERM", List(l, r)) => ec(l) === ec(r)
      // term constructors: values here are lexical forms, so IRI/URI is
      // the identity on the string; the kind, and the lang/datatype of
      // STRLANG/STRDT, ride the metadata columns of the variable the
      // result is bound to ([[exprMeta]])
      case ("IRI" | "URI", List(a)) => ec(a).cast("string")
      case ("STRLANG", List(a, _)) => ec(a).cast("string")
      case ("STRDT", List(a, _)) => ec(a).cast("string")
      case ("BNODE", Nil) =>
        concat(lit("_:b"), abs(org.apache.spark.sql.functions.monotonically_increasing_id())
          .cast("string"))
      case ("ENCODE_FOR_URI", List(a)) =>
        // percent-encoding per SPARQL (RFC 3986 unreserved kept): Spark's
        // url_encode is form-encoding, whose only delta is space -> '+'
        regexp_replace(url_encode(ec(a).cast("string")), lit("\\+"), lit("%20"))
      case ("MD5", List(a)) => md5(ec(a).cast("string").cast("binary"))
      case ("SHA1", List(a)) => sha1(ec(a).cast("string").cast("binary"))
      case ("SHA256", List(a)) => sha2(ec(a).cast("string").cast("binary"), 256)
      case ("SHA384", List(a)) => sha2(ec(a).cast("string").cast("binary"), 384)
      case ("SHA512", List(a)) => sha2(ec(a).cast("string").cast("binary"), 512)
      // dateTime accessors evaluate on the literal's lexical form
      case ("YEAR", List(a)) => year(ec(a).cast("timestamp"))
      case ("MONTH", List(a)) => month(ec(a).cast("timestamp"))
      case ("DAY", List(a)) => dayofmonth(ec(a).cast("timestamp"))
      case ("HOURS", List(a)) => hour(ec(a).cast("timestamp"))
      case ("MINUTES", List(a)) => minute(ec(a).cast("timestamp"))
      case ("SECONDS", List(a)) => second(ec(a).cast("timestamp"))
      case ("TZ", List(a)) => // zone suffix of the lexical form; "" if none
        regexp_extract(ec(a).cast("string"), "(Z|[+-]\\d{2}:\\d{2})$", 1)
      // non-deterministic builtins (SPARQL marks these as such)
      case ("NOW", Nil) => date_format(current_timestamp(),
        "yyyy-MM-dd'T'HH:mm:ss.SSSX")
      case ("RAND", Nil) => rand()
      case ("UUID", Nil) => concat(lit("urn:uuid:"), expr("uuid()"))
      case ("STRUUID", Nil) => expr("uuid()")
      case _ => sys.error(s"unsupported builtin $fn/${args.size}")
    }
  }

  private def aggColumn(fn: String, arg: String, distinct: Boolean,
      sep: Option[String] = None): Column = {
    val c = if (arg == "*") None else Some(col(arg.stripPrefix("?")))
    fn match {
      case "COUNT" if c.isEmpty => count(lit(1))
      case "COUNT" if distinct => countDistinct(c.get)
      case "COUNT" => count(c.get) // skips unbound (null) — SPARQL semantics
      case "SUM" if distinct => sum_distinct(c.get)
      case "SUM" => sum(c.get)
      case "MIN" => min(c.get) // DISTINCT is a no-op for MIN/MAX
      case "MAX" => max(c.get)
      case "AVG" if distinct =>
        // no avg_distinct in the functions API; the definitional quotient
        // (both sides hash the same distinct set) matches avg's double result
        sum_distinct(c.get) / countDistinct(c.get)
      case "AVG" => avg(c.get)
      case "GROUP_CONCAT" =>
        // SPARQL leaves concatenation order undefined; sort for a
        // deterministic (and differential-testable) result
        val vals = collect_list(c.get.cast("string"))
        array_join(array_sort(if (distinct) array_distinct(vals) else vals),
          sep.getOrElse(" "))
      case "SAMPLE" => min(c.get) // any value is conformant; min is stable
    }
  }

  /** `terms`: projected variables whose metadata the output keeps. */
  private def compileQuery(quads: DataFrame, q: Query,
      namedQuads: DataFrame = null, terms: Set[String] = Set.empty): DataFrame = {
    // FROM/FROM NAMED restrict the dataset: with any clause present, the
    // default graph is exactly the FROM merge (empty if none) and the
    // named-graph set exactly FROM NAMED (empty if none) — SPARQL 1.1
    // §13.2. Without clauses this engine serves union-default-graph.
    val outerNamed = Option(namedQuads).getOrElse(quads)
    val (defQ, namQ) =
      if (q.from.isEmpty && q.fromNamed.isEmpty) (quads, outerNamed)
      else (
        if (q.from.nonEmpty) quads.filter(col("g").isin(q.from: _*))
        else quads.limit(0),
        if (q.fromNamed.nonEmpty) quads.filter(col("g").isin(q.fromNamed: _*))
        else quads.limit(0))
    val kept = if (q.items.isEmpty) terms else terms.intersect(projectedVars(q).toSet)
    val metaVars = metaVarsOf(q.group, kept, q.items)
    var df = compileGroup(defQ, q.group, None, metaVars, namQ)
    val aggItems = q.items.collect { case a: AggItem => a }
    // aggregates nested inside SELECT expressions become hidden agg
    // columns the expression references after grouping
    def aggsIn(e: Expr): Seq[EAgg] = e match {
      case a: EAgg => Seq(a)
      case ECall(_, args) => args.flatMap(aggsIn)
      case EBin(_, l, r) => aggsIn(l) ++ aggsIn(r)
      case ENot(x) => aggsIn(x)
      case ENeg(x) => aggsIn(x)
      case _ => Nil
    }
    val exprAggs: Map[EAgg, String] = q.items
      .collect { case ExprItem(e, _) => aggsIn(e) }.flatten.distinct
      .zipWithIndex.map { case (a, i) => a -> s"__eagg$i" }.toMap
    val hasAggs = aggItems.nonEmpty || q.groupBy.nonEmpty || exprAggs.nonEmpty
    def inSelect(k: AggKey): Option[AggItem] =
      aggItems.find(a => a.fn == k.fn && a.arg == k.arg && !a.distinct)
    // order keys on aggregates not projected in SELECT get hidden columns
    val hiddenOrd: Map[AggKey, String] =
      q.orderBy.collect { case (k: AggKey, _) => k }.distinct
        .filter(inSelect(_).isEmpty)
        .zipWithIndex.map { case (k, i) => k -> s"__ord$i" }.toMap
    // MIN/MAX/SAMPLE keep the term of the value they choose: an alias
    // carrying metadata aggregates the (value, kind, datatype, language)
    // struct, which orders by value first
    val termAggs = aggItems.filter(a => TermAggs(a.fn) && metaVars(a.alias) &&
      df.columns.contains(s"__kind_${a.arg.drop(1)}"))
    if (hasAggs) {
      val aggCols = aggItems.map { a =>
        val v = a.arg.drop(1)
        val term = when(col(v).isNotNull, struct((v +: metaCols(v)).map(col): _*))
        (if (!termAggs.contains(a)) aggColumn(a.fn, a.arg, a.distinct, a.sep)
         else if (a.fn == "MAX") max(term) else min(term)).as(a.alias)
      } ++
        exprAggs.map { case (a, n) =>
          aggColumn(a.fn, a.arg, a.distinct, a.sep).as(n) }.toSeq ++
        hiddenOrd.map { case (k, n) =>
          aggColumn(k.fn, k.arg, distinct = false).as(n) }.toSeq ++
        q.having.map(h =>
          aggColumn(h.fn, h.arg, distinct = h.distinct).as("__having")).toSeq
      require(aggCols.nonEmpty, "GROUP BY without aggregates in SELECT or ORDER BY")
      // a GROUP BY variable groups on its whole term
      val keys = q.groupBy ++ q.groupBy.flatMap(metaCols).filter(df.columns.contains)
      df = df.groupBy(keys.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
      df = termAggs.foldLeft(df) { (acc, a) =>
        val (v, t) = (a.arg.drop(1), col(a.alias))
        withMeta(acc, a.alias, metaCols(v).map(t(_))).withColumn(a.alias, t(v))
      }
    }
    // HAVING filters the aggregated groups before projection
    q.having.foreach { h =>
      val c = col("__having")
      val v: Column =
        if (h.value.matches("-?\\d+")) lit(h.value.toLong)
        else if (h.value.matches("-?\\d*\\.\\d+")) lit(h.value.toDouble)
        else lit(termValue(h.value))
      df = (h.op match {
        case ">" => df.where(c > v)
        case ">=" => df.where(c >= v)
        case "<" => df.where(c < v)
        case "<=" => df.where(c <= v)
        case "=" => df.where(c === v)
        case "!=" => df.where(c =!= v)
        case other => sys.error(s"unsupported HAVING operator $other")
      }).drop("__having")
    }
    // expression projections evaluate over the (possibly grouped)
    // solution — after aggregation they may reference group vars and agg
    // aliases (earlier SELECT items included)
    q.items.foreach {
      case ExprItem(e, alias) =>
        val value = exprColumn(e, df, exprAggs)
        if (metaVars(alias)) df = withMeta(df, alias, exprMeta(e, df, exprAggs))
        df = df.withColumn(alias, value)
      case _ => ()
    }
    // projection before ordering (hidden order columns are kept until after
    // the sort, then dropped); internal columns surface only as the kept
    // metadata of projected variables
    val projected =
      if (q.items.isEmpty) df.columns.filterNot(_.startsWith("__")).toSeq else projectedVars(q)
    val internal = projected.filter(kept).flatMap(metaCols) ++ hiddenOrd.values
    df = df.select((projected ++ internal.filter(df.columns.contains)).distinct.map(col): _*)
    if (q.distinct) df = df.distinct()
    if (q.orderBy.nonEmpty) {
      val sortCols = q.orderBy.map { case (key, desc) =>
        val c = key match {
          case VarKey(v) => col(v)
          case k: AggKey =>
            inSelect(k).map(a => col(a.alias)).getOrElse(col(hiddenOrd(k)))
        }
        if (desc) c.desc else c.asc
      }
      df = df.orderBy(sortCols: _*)
    }
    hiddenOrd.values.foreach(n =>
      if (df.columns.contains(n)) df = df.drop(n))
    q.offset.foreach(o => df = df.offset(o))
    q.limit.foreach(l => df = df.limit(l))
    df
  }

  /** Parse and run a SPARQL SELECT over a quads DataFrame. */
  def select(quads: DataFrame, queryText: String): DataFrame = {
    val q = new P(expandPrefixes(tokenize(queryText))).query()
    compileQuery(quads, q)
  }

  /** [[select]], with each projected variable's term next to its value:
    * `__kind_v` (a [[Quad]] kind; null for a computed value), `__dt_v`
    * and `__lang_v` (a literal's datatype and language), carried from the
    * scans that bind it, so it runs the jobs [[select]] would. */
  def selectTerms(quads: DataFrame, queryText: String): DataFrame = {
    val tokens = expandPrefixes(tokenize(queryText))
    val q = new P(tokens).query()
    // SELECT * projects every variable the query binds
    compileQuery(quads, q, terms = (if (q.items.isEmpty) tokens.filter(_.startsWith("?"))
      .map(_.drop(1)) else projectedVars(q)).toSet)
  }

  /** ASK variant (PREFIX headers allowed before the ASK keyword). */
  def ask(quads: DataFrame, queryText: String): Boolean = {
    val toks = expandPrefixes(tokenize(queryText))
    // no WHERE inserted: query() treats it as optional and parses any
    // FROM / FROM NAMED clauses between the items and the group
    val body =
      if (toks.headOption.exists(_.equalsIgnoreCase("ASK")))
        "SELECT" :: "*" :: toks.tail
      else toks
    !compileQuery(quads, new P(body).query()).isEmpty
  }

  // ---------------------------------------------------- CONSTRUCT / UPDATE

  /** Graph names for statements minted by the front end (the reference
    * routes front-door writes to its user graph,
    * `core/src/main/com/thymeflow/update/Updater.scala:26-45` — same
    * constant as [[graft.streaming.Updater.UserGraph]]). */
  val UserGraph = "graft:user"
  val ConstructedGraph = "graft:constructed"

  /** Template/data quad: positions may be variables in templates — the
    * GRAPH position included (`INSERT { GRAPH ?g { … } } WHERE …`); the
    * graph holds the RAW token (`?g`, `<iri>`, bare) and is None for the
    * default graph. */
  private type TemplQuad = (String, String, String, Option[String])

  private def templQuads(elems: List[Element]): List[TemplQuad] = elems.flatMap {
    case Triple(s, p, o) => List((s, p, o, None))
    case Graphed(g, inner) => inner.collect { case Triple(s, p, o) => (s, p, o, Some(g)) }
    case _ => sys.error("quad templates support triples and GRAPH blocks only")
  }

  /** Object-term kind for GROUND tokens in templates/DATA blocks:
    * explicit <iri> / "literal" syntax decides; bare tokens are IRIs when
    * they carry a scheme prefix (`c:42`, `http://...`) — the store's
    * converters mint exactly such IRIs (a bare token can't contain
    * whitespace, the tokenizer split it) — and literals otherwise.
    * VALUES tokens take their kind the same way. VARIABLE bindings do
    * NOT use this loose test: see [[instantiate]]. */
  private def groundKind(tok: String): Byte =
    if (tok.startsWith("<")) Quad.IRI
    else if (tok.startsWith("\"")) Quad.LITERAL
    else if (tok.matches("[A-Za-z][A-Za-z0-9+.-]*:.*")) Quad.IRI
    else Quad.LITERAL

  /** Strict IRI shape test for values the store has never seen (e.g.
    * BIND-computed): no whitespace anywhere and a scheme this engine's
    * converters actually mint (graft.convert.Iri) or the common web
    * schemes. A free-text literal like `"Re: lunch"` must NEVER pass —
    * it would be emitted as `<Re: lunch>` (invalid N-Quads) and inserted
    * as a dangling bogus IRI by [[updateDiff]]. */
  private[rdf] val IriShapeRegex =
    "^(?:https?|mailto|urn|tel|geo|mid|file|ftp|graft):\\S+$"
  def looksLikeIri(v: String): Boolean = v != null && v.matches(IriShapeRegex)

  private def tExpr(t: String): Column =
    if (t.startsWith("?")) col(t.drop(1)).cast("string") else lit(termValue(t))

  /** Instantiate quad templates against a binding set; solutions leaving a
    * template position unbound (OPTIONAL) are skipped, per SPARQL.
    *
    * Object terms: ground template tokens are classified by syntax
    * ([[groundKind]]). A variable's binding brings its kind, datatype and
    * language in the metadata columns the WHERE group carries for
    * template objects ([[templateMetaVars]]); a value without a kind (a
    * BIND result) falls back to the strict [[looksLikeIri]] shape test. */
  private def instantiate(bindings: DataFrame, templ: List[TemplQuad],
      defaultGraph: String): DataFrame =
    templ.map { case (s, p, o, g) =>
      val Seq(kind, dt, lang) =
        if (o.startsWith("?")) exprMeta(EVar(o.drop(1)), bindings)
        else {
          val (_, gDt, gLang) = if (o.startsWith("\"")) literalParts(o) else (o, null, null)
          Seq(lit(groundKind(o)), lit(gDt), lit(gLang))
        }
      bindings.select(
        tExpr(s).as("s"), tExpr(p).as("p"), tExpr(o).as("o"),
        coalesce(kind, when(tExpr(o).rlike(IriShapeRegex), lit(Quad.IRI))
          .otherwise(lit(Quad.LITERAL))).cast("byte").as("oKind"),
        dt.cast("string").as("oDt"), lang.cast("string").as("oLang"),
        // GRAPH ?g templates bind the graph per solution (tExpr);
        // unbound graph solutions are skipped by the na.drop like any
        // other unbound template position
        g.map(tExpr).getOrElse(lit(defaultGraph)).as("g"))
    }.reduceLeft(_.unionByName(_)).na.drop(Seq("s", "p", "o", "g")).distinct()

  /** Template objects' variables, whose terms [[instantiate]] reads. */
  private def templateMetaVars(templ: List[TemplQuad]): Set[String] =
    templ.map(_._3).filter(_.startsWith("?")).map(_.drop(1)).toSet

  /** Parse and run a SPARQL DESCRIBE: returns the store quads describing
    * each target resource — every statement where the resource stands as
    * subject or as an IRI-kind object (the symmetric concise description
    * RDF4J serves behind the reference's front door, which delegates
    * DESCRIBE to the sail; `core/src/main/com/thymeflow/api/
    * SparqlService.scala:100-158` routes it as a graph query). Targets
    * are the listed ground IRIs plus the bindings of the listed
    * variables (`DESCRIBE *` takes every variable) over the optional
    * WHERE group; union default graph, original graph names kept.
    *
    * Scale shape: the target set joins the store as two semi-joins (on s
    * and on o) — broadcastable whenever the WHERE group is selective,
    * full hash joins otherwise; no driver materialization. */
  def describe(quads: DataFrame, queryText: String): DataFrame = {
    val p = new P(expandPrefixes(tokenize(queryText)))
    p.expect("DESCRIBE")
    val targets = scala.collection.mutable.ListBuffer[String]()
    var star = false
    while (p.peek.nonEmpty && !p.peek.equalsIgnoreCase("WHERE") &&
        !p.peek.equalsIgnoreCase("FROM") && p.peek != "{")
      if (p.peek == "*") { star = true; p.next() } else targets += p.next()
    val (dsDef, dsNamed) = datasetClauses(p, quads)
    if (p.peek.equalsIgnoreCase("WHERE")) p.next()
    val group = if (p.peek == "{") Some(p.block()) else None
    val (ground, vars) = targets.toList.partition(!_.startsWith("?"))
    require(ground.nonEmpty || vars.nonEmpty || star, "DESCRIBE needs a target")
    val spark = quads.sparkSession
    import spark.implicits._
    val fromVars: Option[DataFrame] = group.map { g =>
      val bindings = compileGroup(dsDef, g, None, metaVarsOf(g, Set.empty), dsNamed)
      val names =
        if (star) bindings.columns.toSeq
        else vars.map(_.stripPrefix("?")).filter(bindings.columns.contains)
      require(names.nonEmpty || ground.nonEmpty,
        "DESCRIBE variables unbound in the WHERE group")
      if (names.isEmpty) Seq.empty[String].toDF("res")
      else names.map(n => bindings.select(col(n).cast("string").as("res")))
        .reduceLeft(_.unionByName(_)).na.drop().distinct()
    }
    val groundDf =
      if (ground.isEmpty) None
      else Some(ground.map(termValue).toDF("res").distinct())
    val resources = (fromVars.toSeq ++ groundDf.toSeq)
      .reduceLeftOption(_.unionByName(_).distinct())
      .getOrElse(sys.error("DESCRIBE needs a target"))
    val asSubject = dsDef.join(resources, dsDef("s") === resources("res"), "left_semi")
    val asObject = dsDef.where(col("oKind") === lit(Quad.IRI))
      .join(resources, dsDef("o") === resources("res"), "left_semi")
    asSubject.unionByName(asObject).distinct()
  }

  /** Parse and run a SPARQL CONSTRUCT: instantiate the template per
    * solution of the WHERE group; returns quads (set semantics). Template
    * GRAPH blocks name the output graph; the default is
    * [[ConstructedGraph]]. */
  def construct(quads: DataFrame, queryText: String): DataFrame = {
    val p = new P(expandPrefixes(tokenize(queryText)))
    p.expect("CONSTRUCT")
    if (p.peek.equalsIgnoreCase("WHERE")) {
      // CONSTRUCT WHERE { pattern } shorthand: the pattern is its own
      // template (SPARQL 1.1 §10.2.2)
      p.next()
      val group = p.block()
      val templ = templQuads(group.filter {
        case _: Triple | _: Graphed => true
        case _ => false
      })
      require(templ.nonEmpty, "empty CONSTRUCT WHERE pattern")
      instantiate(compileGroup(quads, group, None,
        metaVarsOf(group, templateMetaVars(templ))), templ, ConstructedGraph)
    } else {
      val templ = templQuads(p.block())
      require(templ.nonEmpty, "empty CONSTRUCT template")
      val (dsDef, dsNamed) = datasetClauses(p, quads)
      if (p.peek.equalsIgnoreCase("WHERE")) p.next()
      val group = p.block()
      instantiate(compileGroup(dsDef, group, None,
        metaVarsOf(group, templateMetaVars(templ)), dsNamed), templ, ConstructedGraph)
    }
  }

  /** Consume FROM / FROM NAMED clauses and return the (default-graph
    * store, named-graph store) pair per SPARQL 1.1 §13.2 — with any
    * clause present each side is exactly what was listed (empty when
    * absent); with none, both are the full union-default-graph store. */
  private def datasetClauses(p: P, quads: DataFrame): (DataFrame, DataFrame) = {
    val from = scala.collection.mutable.ListBuffer[String]()
    val named = scala.collection.mutable.ListBuffer[String]()
    while (p.peek.equalsIgnoreCase("FROM")) {
      p.next()
      if (p.peek.equalsIgnoreCase("NAMED")) { p.next(); named += termValue(p.next()) }
      else from += termValue(p.next())
    }
    if (from.isEmpty && named.isEmpty) (quads, quads)
    else (
      if (from.nonEmpty) quads.filter(col("g").isin(from.toSeq: _*)) else quads.limit(0),
      if (named.nonEmpty) quads.filter(col("g").isin(named.toSeq: _*)) else quads.limit(0))
  }

  /** Parse a SPARQL 1.1 UPDATE request and evaluate it against a store
    * snapshot into a [[QuadDiff]] (reference front door:
    * `core/src/main/com/thymeflow/api/SparqlService.scala:144-158`
    * prepares updates the same way via RDF4J's `prepareUpdate`; the
    * resulting diff feeds [[QuadStore.applyDiff]] or the write-back
    * routing in [[graft.streaming.Updater]]).
    *
    * Operations: `INSERT DATA`, `DELETE DATA`,
    * `[DELETE {t}] [INSERT {t}] WHERE {g}` (either template optional,
    * `DELETE WHERE {g}` shorthand), graph management
    * `CLEAR|DROP [SILENT] (GRAPH <g> | DEFAULT | NAMED | ALL)` (DROP ==
    * CLEAR here — graphs are implicit, there is no empty-graph catalog
    * to drop), `CREATE [SILENT] GRAPH <g>` (a no-op for the same
    * reason), graph-to-graph transfer `COPY|MOVE|ADD [SILENT]
    * (GRAPH <g> | DEFAULT) TO (GRAPH <g> | DEFAULT)` (reference accepts
    * these via RDF4J prepareUpdate, `core/api/SparqlService.scala:
    * 145-158`), and `LOAD [SILENT] <doc> [INTO GRAPH <g>]` (N-Triples/
    * N-Quads via [[graft.sources.NTriples.read]]; without INTO the
    * target graph is the document IRI — the reference's per-document
    * provenance contexts, `core/Pipeline.scala:61-93`). Multiple
    * operations sequence with `;`: each op sees its predecessors'
    * effects, and the returned diff is the NET change vs the input
    * snapshot.
    *
    * Semantics against the partitioned store: WHERE matches the union of
    * all graphs (the reference advertises union-default-graph) and may
    * use `GRAPH ?g {}` scoping like any query group; DELETE templates
    * without an explicit GRAPH remove every graph's copy; INSERTs
    * without a GRAPH land in [[UserGraph]]. The returned diff is
    * already set-normalized: adds exclude statements present in the
    * store, removals are actual store rows. */
  def updateDiff(store: DataFrame, updateText: String): QuadDiff = {
    val p = new P(expandPrefixes(tokenize(updateText)))
    val first = singleUpdateDiff(store, p)
    if (p.peek != ";") first
    else {
      // ;-sequenced request: run ops against a running snapshot, then
      // net-diff so cancelling add/remove pairs drop out of the result.
      // Each statement's version is committed by applyDiff, so the next
      // statement plans against a flat version with measured statistics
      // (like the reference's per-update store versions), not against the
      // lineage of every statement before it.
      var snapshot = QuadStore.applyDiff(store, first)
      while (p.peek == ";") {
        p.next()
        if (p.peek.nonEmpty)
          snapshot = QuadStore.applyDiff(snapshot, singleUpdateDiff(snapshot, p))
      }
      QuadStore.diff(store, snapshot)
    }
  }

  /** One update operation, consumed from the token stream. */
  private def singleUpdateDiff(store: DataFrame, p: P): QuadDiff = {
    val spark = store.sparkSession
    import spark.implicits._
    val storeCols = store.columns.map(col).toSeq
    def empty = store.limit(0)
    def ground(ts: List[TemplQuad]): DataFrame = {
      val qs = ts.map { case (s, p, o, g) =>
        require(!s.startsWith("?") && !p.startsWith("?") && !o.startsWith("?") &&
            !g.exists(_.startsWith("?")),
          "DATA blocks must be ground")
        val (ov, dt, lang) =
          if (o.startsWith("\"")) literalParts(o) else (termValue(o), null, null)
        Quad(termValue(s), termValue(p), ov, groundKind(o), dt, lang,
          g.map(termValue).getOrElse(UserGraph))
      }
      qs.toDF().select(storeCols: _*)
    }
    def dedupAdds(added: DataFrame): DataFrame =
      added.join(store, Seq("s", "p", "o", "g"), "left_anti").select(storeCols: _*)
    /** Store rows matching instantiated delete keys; a template without a
      * GRAPH matches any graph. */
    def matchRemovals(keys: DataFrame, withGraph: Boolean): DataFrame =
      store.join(keys, Seq("s", "p", "o") ++ (if (withGraph) Seq("g") else Nil), "left_semi")
        .select(storeCols: _*)
    def silent(): Unit = if (p.peek.equalsIgnoreCase("SILENT")) p.next()

    p.peek.toUpperCase match {
      case "INSERT" if p.peek2.equalsIgnoreCase("DATA") =>
        p.next(); p.next()
        QuadDiff(dedupAdds(ground(templQuads(p.block()))), empty)
      case "DELETE" if p.peek2.equalsIgnoreCase("DATA") =>
        p.next(); p.next()
        val keys = ground(templQuads(p.block()))
        QuadDiff(empty, matchRemovals(keys.select("s", "p", "o", "g"), withGraph = true))
      case "CLEAR" | "DROP" =>
        p.next(); silent()
        val removed = p.next().toUpperCase match {
          case "GRAPH" => store.filter(col("g") === termValue(p.next()))
          case "DEFAULT" => store.filter(col("g") === UserGraph)
          case "NAMED" => store.filter(col("g") =!= UserGraph)
          case "ALL" => store
          case t => sys.error(s"CLEAR/DROP expects GRAPH/DEFAULT/NAMED/ALL, got $t")
        }
        QuadDiff(empty, removed.select(storeCols: _*))
      case "CREATE" =>
        p.next(); silent(); p.expect("GRAPH"); termValue(p.next())
        QuadDiff(empty, empty) // graphs exist implicitly on first insert
      case "COPY" | "MOVE" | "ADD" =>
        // SPARQL 1.1 Update §3.2.3-3.2.5 graph-to-graph forms on the
        // partitioned store: COPY dst := src (dst overwritten), MOVE
        // additionally clears src, ADD unions src into dst. SILENT is
        // accepted (these cannot fail here: graphs exist implicitly).
        val op = p.next().toUpperCase
        silent()
        def graphRef(): String = p.peek.toUpperCase match {
          case "DEFAULT" => p.next(); UserGraph
          case "GRAPH" => p.next(); termValue(p.next())
          case _ => termValue(p.next()) // bare IRI tolerated
        }
        val src = graphRef()
        p.expect("TO")
        val dst = graphRef()
        if (src == dst) QuadDiff(empty, empty) // spec: same-graph is a no-op
        else {
          val srcRows = store.filter(col("g") === src)
          val srcAsDst = srcRows.withColumn("g", lit(dst)).select(storeCols: _*)
          val dstRows = store.filter(col("g") === dst)
          // net form: adds exclude rows dst already holds; removals are
          // only the dst rows the copy does not re-assert (plus, for
          // MOVE, the whole source graph)
          val added = dedupAdds(srcAsDst)
          val removedDst =
            if (op == "ADD") empty
            else dstRows.join(srcAsDst, Seq("s", "p", "o", "g"), "left_anti")
          val removed =
            if (op == "MOVE") removedDst.unionByName(srcRows).select(storeCols: _*)
            else removedDst.select(storeCols: _*)
          QuadDiff(added, removed)
        }
      case "LOAD" =>
        p.next(); silent()
        val src = termValue(p.next())
        val target =
          if (p.peek.equalsIgnoreCase("INTO")) {
            p.next(); p.expect("GRAPH"); Some(termValue(p.next()))
          } else None
        val path = if (src.startsWith("file://")) src.stripPrefix("file://") else src
        val defaultG = target.getOrElse(src)
        val loaded =
          (if (path.endsWith(".ttl") || path.endsWith(".turtle") ||
              path.endsWith(".trig")) // TriG: per-block graphs survive
            graft.sources.Turtle.read(spark, path, defaultG)
          else if (path.endsWith(".jsonld")) // named-graph nodes survive
            graft.sources.JsonLd.read(spark, path, defaultG)
          else if (path.endsWith(".rdf") || path.endsWith(".owl"))
            graft.sources.RdfXml.read(spark, path, defaultG)
          else graft.sources.NTriples.read(spark, path, defaultG)).toDF()
        val placed = target match {
          case Some(t) => loaded.withColumn("g", lit(t)) // INTO overrides embedded graphs
          case None => loaded
        }
        QuadDiff(dedupAdds(placed.select(storeCols: _*)), empty)
      case "DELETE" | "INSERT" =>
        val delTempl =
          if (p.peek.equalsIgnoreCase("DELETE")) {
            p.next()
            if (p.peek == "{") templQuads(p.block()) else Nil
          } else Nil
        val insTempl =
          if (p.peek.equalsIgnoreCase("INSERT")) { p.next(); templQuads(p.block()) } else Nil
        p.expect("WHERE")
        val group = p.block()
        val bindings =
          compileGroup(store, group, None, metaVarsOf(group, templateMetaVars(insTempl)))
        // DELETE WHERE { g } shorthand: the pattern is its own template
        val del = if (delTempl.isEmpty && insTempl.isEmpty) templQuads(group.filter {
          case _: Triple | _: Graphed => true
          case _ => false
        }) else delTempl
        val removed =
          if (del.isEmpty) empty
          else {
            val (scoped, global) = del.partition(_._4.isDefined)
            val parts =
              (if (global.nonEmpty)
                Seq(matchRemovals(
                  instantiate(bindings, global, UserGraph).select("s", "p", "o"),
                  withGraph = false))
              else Nil) ++
              (if (scoped.nonEmpty)
                Seq(matchRemovals(
                  instantiate(bindings, scoped, UserGraph).select("s", "p", "o", "g"),
                  withGraph = true))
              else Nil)
            parts.reduceLeft(_.unionByName(_)).distinct()
          }
        val added =
          if (insTempl.isEmpty) empty
          else dedupAdds(instantiate(bindings, insTempl, UserGraph))
        QuadDiff(added, removed)
      case t => sys.error(s"unsupported update operation: $t")
    }
  }

  /** Convenience: parse an update, evaluate, apply — returns the new
    * store version, committed. */
  def update(store: DataFrame, updateText: String): DataFrame =
    QuadStore.applyDiff(store, updateDiff(store, updateText))
}
