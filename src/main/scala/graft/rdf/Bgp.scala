package graft.rdf

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SPARQL-semantics query layer over a quads DataFrame: basic graph
  * patterns, OPTIONAL, UNION, GRAPH scoping — the relational surface every
  * reference enricher uses (SURVEY §2.2, Q1–Q14).
  *
  * A term starting with '?' is a variable; anything else is a constant.
  * Each triple pattern compiles to a filtered scan of `quads` (constant
  * positions become pushed-down predicates on the columnar store — the
  * Spark analogue of RDF4J's SPOC statement indexes); chained patterns
  * equi-join on their shared variables. Catalyst then reorders/broadcasts
  * as usual — the BGP builder stays declarative.
  */
object Bgp {

  final case class Pattern(s: String, p: String, o: String, g: Option[String] = None)

  private def isVar(t: String) = t.startsWith("?")

  /** Compile one triple pattern: filter on constants, project variables. */
  def scan(quads: DataFrame, pat: Pattern): DataFrame = scanMeta(quads, pat, Set.empty)

  /** [[scan]], carrying the term metadata columns (`__kind_v`, `__dt_v`,
    * `__lang_v`) of each variable `v` in `meta`: an object's stored
    * `oKind`/`oDt`/`oLang`, an IRI for a predicate, [[resourceKind]] for a
    * subject or graph. SPARQL's LANG()/DATATYPE()/isIRI() and a served
    * binding's term type need more than the lexical form; projected only
    * on demand so ordinary BGPs keep their narrow column pruning. */
  def scanMeta(quads: DataFrame, pat: Pattern, meta: Set[String]): DataFrame = {
    val bindings = Seq("s" -> pat.s, "p" -> pat.p, "o" -> pat.o) ++
      pat.g.map(g => Seq("g" -> g)).getOrElse(Nil)
    val filtered = bindings.foldLeft(quads) { case (df, (colName, term)) =>
      if (isVar(term)) df else df.where(col(colName) === term)
    }
    // first occurrence of each variable wins (a later duplicate would
    // produce an ambiguous output column)
    val varCols = bindings.collect { case (c, t) if isVar(t) => (t.drop(1), c) }
      .foldLeft(Vector.empty[(String, String)]) { (acc, p) =>
        if (acc.exists(_._1 == p._1)) acc else acc :+ p
      }
    val projections = varCols.map { case (v, c) => col(c).as(v) }
    // a variable used twice inside one pattern (e.g. ?x p ?x) needs a
    // self-equality filter; handled by grouping projections by var name
    val dup = bindings.collect { case (c, t) if isVar(t) => (t, c) }
      .groupBy(_._1).filter(_._2.size > 1)
    val selfFiltered = dup.values.foldLeft(filtered) { (df, occurrences) =>
      occurrences.map(_._2).sliding(2).foldLeft(df) {
        case (d, Seq(a, b)) => d.where(col(a) === col(b))
        case (d, _) => d
      }
    }
    val metaCols = varCols.filter(vc => meta(vc._1)).flatMap { case (v, c) =>
      val (kind, dt, lang) =
        if (pat.o == "?" + v) (col("oKind"), col("oDt"), col("oLang"))
        else if (pat.p == "?" + v) (lit(Quad.IRI), lit(null), lit(null))
        else (resourceKind(col(c)), lit(null), lit(null))
      Seq(kind.cast("byte").as(s"__kind_$v"), dt.cast("string").as(s"__dt_$v"),
        lang.cast("string").as(s"__lang_$v"))
    }
    selfFiltered.select(projections.distinct ++ metaCols: _*)
  }

  /** Kind of a term standing as a subject or graph: a blank node when it
    * carries a `_:` label, an IRI otherwise. */
  private[graft] def resourceKind(term: Column): Column =
    when(term.startsWith("_:"), lit(Quad.BNODE)).otherwise(lit(Quad.IRI))

  /** Join a chain of patterns on their shared variables (natural join). */
  def bgp(quads: DataFrame, patterns: Pattern*): DataFrame =
    bgpMeta(quads, patterns, Set.empty)

  /** [[bgp]] with term metadata carried for the listed variables: the
    * first pattern binding such a variable in object position, else the
    * first binding it at all, projects its metadata (later duplicates
    * join on the lexical value only, as this engine does everywhere).
    *
    * Join ORDER is chosen greedily, RDF4J-optimizer style: start at the
    * pattern with the most constant positions (most selective under the
    * classic triple-store heuristic), then repeatedly join the most-
    * constant pattern CONNECTED to the bound variables — a cross join
    * happens only when the pattern graph is genuinely disconnected, never
    * because the author interleaved unrelated chains (the left-fold this
    * replaces cross-joined `{?a p ?b} {?c q ?d} {?b r ?c}` at step two).
    * Natural inner joins on all shared columns are order-independent in
    * bag semantics, so results are identical; output columns keep the
    * authored first-appearance order (callers decode positionally). */
  def bgpMeta(quads: DataFrame, patterns: Seq[Pattern],
      metaVars: Set[String]): DataFrame = {
    val claims = metaVars.groupBy { v =>
      val obj = patterns.indexWhere(_.o == "?" + v)
      if (obj >= 0) obj else patterns.indexWhere(p => (Seq(p.s, p.p, p.o) ++ p.g).contains("?" + v))
    }
    val scans = patterns.zipWithIndex.map { case (p, i) =>
      val consts = (Seq(p.s, p.p, p.o) ++ p.g).count(t => !isVar(t))
      (scanMeta(quads, p, claims.getOrElse(i, Set.empty)), consts)
    }
    val authoredCols = scans.flatMap(_._1.columns).distinct
    val remaining = scala.collection.mutable.ArrayBuffer.tabulate(scans.size)(identity)
    def pop(eligible: Int => Boolean): Option[DataFrame] = {
      val cands = remaining.filter(eligible)
      if (cands.isEmpty) None
      else {
        val best = cands.maxBy(i => (scans(i)._2, -i))
        remaining -= best
        Some(scans(best)._1)
      }
    }
    var acc = pop(_ => true).get
    while (remaining.nonEmpty) {
      val accCols = acc.columns.toSet
      val next = pop(i => scans(i)._1.columns.exists(accCols))
        .orElse(pop(_ => true)).get
      val shared = acc.columns.intersect(next.columns).toSeq
      acc = if (shared.nonEmpty) acc.join(next, shared) else acc.crossJoin(next)
    }
    acc.select(authoredCols.map(col): _*)
  }

  /** OPTIONAL: left-outer join of a BGP onto an existing binding set
    * (SURVEY Q3; e.g. `AgentMatchEnricher.scala:105-111`). */
  def optional(left: DataFrame, quads: DataFrame, patterns: Pattern*): DataFrame = {
    val right = bgp(quads, patterns: _*)
    val shared = left.columns.intersect(right.columns).toSeq
    left.join(right, shared, "left_outer")
  }

  /** UNION of two binding sets (bag semantics, SURVEY Q4): columns are
    * aligned by name, and a column one side lacks becomes a null of the
    * other side's type. */
  def union(a: DataFrame, b: DataFrame): DataFrame = {
    val types = (b.schema.fields ++ a.schema.fields).map(f => f.name -> f.dataType).toMap
    val cols = (a.columns ++ b.columns).distinct.toSeq
    def pad(df: DataFrame) = df.select(cols.map(c =>
      if (df.columns.contains(c)) col(c) else lit(null).cast(types(c)).as(c)): _*)
    pad(a).union(pad(b))
  }

  /** ASK: does the pattern have any solution? (SURVEY Q10) */
  def ask(quads: DataFrame, patterns: Pattern*): Boolean =
    !bgp(quads, patterns: _*).isEmpty

  /** FILTER: restrict a binding set with an arbitrary boolean Column over
    * the bound variables (SPARQL FILTER, SURVEY Q5). */
  def filterBindings(bindings: DataFrame, condition: Column): DataFrame =
    bindings.where(condition)

  /** BIND: extend each solution with a computed variable. */
  def bind(bindings: DataFrame, varName: String, value: Column): DataFrame =
    bindings.withColumn(varName, value)

  /** VALUES: constrain a variable to an inline set of values (SPARQL
    * VALUES clause — an inner join against a broadcast literal table). */
  def values(bindings: DataFrame, varName: String, allowed: Seq[String]): DataFrame =
    bindings.join(
      broadcast(bindings.sparkSession.createDataFrame(
        allowed.map(Tuple1(_))).toDF(varName)),
      Seq(varName))
}
