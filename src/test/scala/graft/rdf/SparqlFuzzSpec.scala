package graft.rdf

import graft.SparkSpec

/** Differential fuzzing of the SPARQL engine (SQLancer-style): random
  * quad stores × random queries, each evaluated BOTH by the engine and
  * by an independent ~60-line bag-semantics evaluator written straight
  * off SPARQL 1.1 §18.5 (BGP fold, compatible-binding left-join for
  * OPTIONAL, concat for UNION, filter on bound values). Any divergence
  * in the result multiset is a bug in one of them. The query space is a
  * deliberately well-specified subset — string-valued terms, FILTERs
  * only over always-bound vars with non-numeric literals — so the two
  * sides cannot disagree on spec ambiguities, only on implementation.
  */
class SparqlFuzzSpec extends SparkSpec {
  import spark.implicits._

  private type Triple = (String, String, String)
  private type Binding = Map[String, String]
  private case class Pat(s: String, p: String, o: String)

  // ---- independent reference evaluator ----
  private def unify(term: String, value: String, b: Binding): Option[Binding] =
    if (term.startsWith("?")) b.get(term) match {
      case Some(v) => if (v == value) Some(b) else None
      case None => Some(b + (term -> value))
    } else if (term == value) Some(b) else None

  private def matchPat(t: Triple, pat: Pat, b: Binding): Option[Binding] =
    unify(pat.s, t._1, b).flatMap(unify(pat.p, t._2, _)).flatMap(unify(pat.o, t._3, _))

  private def evalBgp(data: Seq[Triple], pats: Seq[Pat],
      init: Seq[Binding]): Seq[Binding] =
    pats.foldLeft(init)((acc, pat) =>
      acc.flatMap(b => data.flatMap(t => matchPat(t, pat, b))))

  private def leftJoin(left: Seq[Binding], data: Seq[Triple],
      opt: Seq[Pat]): Seq[Binding] =
    left.flatMap { b =>
      val ext = evalBgp(data, opt, Seq(b))
      if (ext.nonEmpty) ext else Seq(b)
    }

  // ---- generation ----
  // fixed seed for CI determinism; GRAFT_FUZZ_SEED sweeps alternates
  private val rnd = new scala.util.Random(sys.env.getOrElse("GRAFT_FUZZ_SEED", "7").toLong)
  private val subs = Vector("u:s0", "u:s1", "u:s2", "u:s3", "u:s4")
  private val preds = Vector("u:p0", "u:p1", "u:p2")
  private val lits = Vector("la", "lb", "lc")

  private def randomStore(): Seq[Triple] =
    Seq.fill(25 + rnd.nextInt(15)) {
      val o = if (rnd.nextBoolean()) subs(rnd.nextInt(subs.size))
      else lits(rnd.nextInt(lits.size))
      (subs(rnd.nextInt(subs.size)), preds(rnd.nextInt(preds.size)), o)
    }.distinct

  private val varPool = Vector("?a", "?b", "?c", "?d")
  private def randomPat(vars: Vector[String]): Pat = Pat(
    s = if (rnd.nextInt(10) < 6) vars(rnd.nextInt(vars.size))
        else subs(rnd.nextInt(subs.size)),
    p = if (rnd.nextInt(10) < 8) preds(rnd.nextInt(preds.size))
        else vars(rnd.nextInt(vars.size)),
    o = if (rnd.nextBoolean()) vars(rnd.nextInt(vars.size))
        else if (rnd.nextBoolean()) subs(rnd.nextInt(subs.size))
        else lits(rnd.nextInt(lits.size)))

  private def render(t: String): String =
    if (t.startsWith("?")) t
    else if (t.startsWith("u:")) s"<$t>"
    else "\"" + t + "\""

  private def renderPats(pats: Seq[Pat]): String =
    pats.map(p => s"${render(p.s)} ${render(p.p)} ${render(p.o)} .").mkString(" ")

  private def vorsOf(pats: Seq[Pat]): Seq[String] =
    pats.flatMap(p => Seq(p.s, p.p, p.o)).filter(_.startsWith("?")).distinct

  private def toQuadsDf(data: Seq[Triple]) =
    data.map { case (s, p, o) =>
      (s, p, o, (if (o.startsWith("u:")) 0 else 2).toByte,
        null: String, null: String, "g") }
      .toDF("s", "p", "o", "oKind", "oDt", "oLang", "g")

  private def runCase(data: Seq[Triple], n: Int): Unit = {
    val quads = toQuadsDf(data)

    for (_ <- 1 to n) {
      val union = rnd.nextInt(4) == 0
      val (text, ref, inScope) =
        if (union) {
          val g1 = Seq.fill(1 + rnd.nextInt(2))(randomPat(varPool))
          val g2 = Seq.fill(1 + rnd.nextInt(2))(randomPat(varPool))
          val ref = evalBgp(data, g1, Seq(Map.empty)) ++
            evalBgp(data, g2, Seq(Map.empty))
          (s"{ ${renderPats(g1)} } UNION { ${renderPats(g2)} }",
            ref, (vorsOf(g1) ++ vorsOf(g2)).distinct)
        } else {
          val req = Seq.fill(1 + rnd.nextInt(3))(randomPat(varPool))
          val opt = if (rnd.nextBoolean())
            Some(Seq.fill(1 + rnd.nextInt(2))(randomPat(varPool))) else None
          val reqVars = vorsOf(req)
          val filter = if (reqVars.nonEmpty && rnd.nextInt(3) == 0) {
            val v = reqVars(rnd.nextInt(reqVars.size))
            val rhs = lits(rnd.nextInt(lits.size))
            val eq = rnd.nextBoolean()
            Some((v, rhs, eq))
          } else None
          val minus = if (rnd.nextInt(3) == 0)
            Some(Seq.fill(1 + rnd.nextInt(2))(randomPat(varPool))) else None
          val exists = if (rnd.nextInt(4) == 0)
            Some((Seq.fill(1 + rnd.nextInt(2))(randomPat(varPool)),
              rnd.nextBoolean())) else None
          // BIND a FRESH var (?e is outside the pattern pool, so it can't
          // unify into later groups); VALUES restricts an always-bound var
          val bind = if (reqVars.nonEmpty && rnd.nextInt(4) == 0)
            Some(reqVars(rnd.nextInt(reqVars.size))) else None
          val values = if (reqVars.nonEmpty && rnd.nextInt(4) == 0)
            Some((reqVars(rnd.nextInt(reqVars.size)),
              rnd.shuffle(subs ++ lits).take(1 + rnd.nextInt(4)))) else None
          var ref = evalBgp(data, req, Seq(Map.empty))
          ref = filter.fold(ref) { case (v, rhs, eq) =>
            ref.filter(b => (b(v) == rhs) == eq) }
          ref = opt.fold(ref)(o => leftJoin(ref, data, o))
          // SPARQL §18.5 Minus: drop b when some inner solution shares at
          // least one variable with b and agrees on all shared ones
          ref = minus.fold(ref) { m =>
            val inner = evalBgp(data, m, Seq(Map.empty))
            ref.filterNot(b => inner.exists { c =>
              val shared = b.keySet & c.keySet
              shared.nonEmpty && shared.forall(k => b(k) == c(k))
            })
          }
          // EXISTS evaluates the inner group under the solution's bindings
          ref = exists.fold(ref) { case (pats, neg) =>
            ref.filter(b => evalBgp(data, pats, Seq(b)).nonEmpty != neg)
          }
          ref = bind.fold(ref)(src => ref.map(b => b + ("?e" -> b(src))))
          ref = values.fold(ref) { case (v, vals) =>
            ref.filter(b => vals.contains(b(v))) }
          val text = renderPats(req) +
            filter.fold("") { case (v, rhs, eq) =>
              s""" FILTER($v ${if (eq) "=" else "!="} "$rhs")""" } +
            opt.fold("")(o => s" OPTIONAL { ${renderPats(o)} }") +
            minus.fold("")(m => s" MINUS { ${renderPats(m)} }") +
            exists.fold("") { case (pats, neg) =>
              s" FILTER ${if (neg) "NOT " else ""}EXISTS { ${renderPats(pats)} }" } +
            bind.fold("")(src => s" BIND($src AS ?e)") +
            values.fold("") { case (v, vals) =>
              s" VALUES $v { ${vals.map(render).mkString(" ")} }" }
          (text, ref,
            (reqVars ++ opt.toSeq.flatMap(vorsOf) ++ bind.map(_ => "?e")).distinct)
        }
      if (inScope.nonEmpty) {
        val proj = rnd.shuffle(inScope).take(1 + rnd.nextInt(inScope.size))
        val distinct = rnd.nextInt(4) == 0
        val q = s"SELECT ${if (distinct) "DISTINCT " else ""}${proj.mkString(" ")} " +
          s"WHERE { $text }"
        val got = Sparql.select(quads, q).collect()
          .map(r => proj.indices.map(i =>
            Option(r.get(i)).map(_.toString).orNull).toList).toSeq
        var want = ref.map(b => proj.map(v => b.getOrElse(v, null)).toList)
        if (distinct) want = want.distinct
        val sortKey = (row: List[String]) =>
          row.map(v => if (v == null) "\u0000" else v).mkString("\u0001")
        withClue(s"query: $q\nstore: ${data.sortBy(_.toString)}\n") {
          (if (distinct) got.distinct else got).sortBy(sortKey) shouldBe
            want.sortBy(sortKey)
        }
      }
    }
  }

  "Sparql.select" should "agree with an independent evaluator on random stores and queries" in {
    for (_ <- 1 to 4) runCase(randomStore(), 12)
  }

  // ---- property-path differential fuzzing ----
  // Reference: a ~30-line pair-relation evaluator straight off SPARQL 1.1
  // §9.3 — link = (s,o) pairs, ^ = swap, / = compose, | = union,
  // +/* = driver fixpoint closure, ?/* add the zero-length identity over
  // every term of the graph. Compared under DISTINCT: the reference
  // computes pair sets, and SparqlSpec pins the bag/set multiplicities.
  private sealed trait PathE
  private case class PLk(p: String) extends PathE
  private case class PNeg(e: PathE) extends PathE
  private case class PSq(l: PathE, r: PathE) extends PathE
  private case class PAl(l: PathE, r: PathE) extends PathE
  private case class PMod(e: PathE, m: Char) extends PathE
  private case class PNS(not: Seq[String]) extends PathE
  private case class PRng(e: PathE, lo: Int, hi: Int) extends PathE

  private def closure(r: Set[(String, String)]): Set[(String, String)] = {
    var acc = r
    var grown = true
    while (grown) {
      val next = acc ++ (for ((a, b) <- acc; (c, d) <- acc if b == c) yield (a, d))
      grown = next.size != acc.size
      acc = next
    }
    acc
  }

  private def refPathPairs(data: Seq[Triple], e: PathE): Set[(String, String)] = e match {
    case PLk(p) => data.collect { case (s, `p`, o) => (s, o) }.toSet
    case PNeg(x) => refPathPairs(data, x).map(_.swap)
    case PSq(l, r) =>
      val (a, b) = (refPathPairs(data, l), refPathPairs(data, r))
      for ((s, m) <- a; (m2, o) <- b if m == m2) yield (s, o)
    case PAl(l, r) => refPathPairs(data, l) ++ refPathPairs(data, r)
    case PMod(x, m) =>
      val base = refPathPairs(data, x)
      lazy val id = data.flatMap(t => Seq(t._1, t._3)).toSet[String].map(n => (n, n))
      m match {
        case '?' => base ++ id
        case '+' => closure(base)
        case _   => closure(base) ++ id
      }
    case PNS(not) =>
      data.collect { case (s, p, o) if !not.contains(p) => (s, o) }.toSet
    case PRng(x, lo, hi) => // union of exact-k-hop pairs, k in [lo, hi]
      val base = refPathPairs(data, x)
      def compose(a: Set[(String, String)]) =
        for ((s, m) <- a; (m2, o) <- base if m == m2) yield (s, o)
      val id = data.flatMap(t => Seq(t._1, t._3)).toSet[String].map(n => (n, n))
      var cur = base
      var acc = if (lo == 0) id else Set.empty[(String, String)]
      for (k <- 1 to hi) {
        if (k >= lo) acc ++= cur
        cur = compose(cur)
      }
      acc
  }

  private def randomPath(depth: Int): PathE =
    if (depth == 0) PLk(preds(rnd.nextInt(preds.size)))
    else rnd.nextInt(8) match {
      case 0 => PLk(preds(rnd.nextInt(preds.size)))
      case 1 => PNeg(randomPath(depth - 1))
      case 2 => PSq(randomPath(depth - 1), randomPath(depth - 1))
      case 3 => PAl(randomPath(depth - 1), randomPath(depth - 1))
      case 4 => PNS(rnd.shuffle(preds).take(1 + rnd.nextInt(preds.size)))
      case 5 =>
        val lo = rnd.nextInt(3)
        PRng(randomPath(depth - 1), lo, math.max(lo, 1) + rnd.nextInt(2))
      case _ => PMod(randomPath(depth - 1), "?+*".charAt(rnd.nextInt(3)))
    }

  // parenthesize everything: exercises the group grammar and removes any
  // precedence ambiguity between the two evaluators
  private def renderPath(e: PathE): String = e match {
    case PLk(p) => s"<$p>"
    case PNeg(x) => s"(^(${renderPath(x)}))"
    case PSq(l, r) => s"(${renderPath(l)}/${renderPath(r)})"
    case PAl(l, r) => s"(${renderPath(l)}|${renderPath(r)})"
    case PMod(x, m) => s"((${renderPath(x)})$m)"
    case PNS(not) => s"(!(${not.map(p => s"<$p>").mkString("|")}))"
    case PRng(x, lo, hi) => s"((${renderPath(x)}){$lo,$hi})"
  }

  "Sparql property paths" should "agree with an independent fixpoint evaluator" in {
    for (i <- 1 to 14) {
      val data = randomStore()
      val quads = toQuadsDf(data)
      val p = randomPath(if (i % 3 == 0) 3 else 2)
      val want = refPathPairs(data, p)
      val clue = s"path: ${renderPath(p)}\nstore: ${data.sortBy(_.toString)}\n"
      val mode = rnd.nextInt(4)
      if (mode == 0) { // anchored subject
        val s0 = subs(rnd.nextInt(subs.size))
        val q = s"SELECT DISTINCT ?b WHERE { <$s0> ${renderPath(p)} ?b . }"
        val got = Sparql.select(quads, q).collect().map(_.getString(0)).toSet
        withClue(s"anchored $s0; $clue") {
          got shouldBe want.collect { case (`s0`, b) => b }
        }
      } else if (mode == 1) { // both ends the same variable
        val q = s"SELECT DISTINCT ?a WHERE { ?a ${renderPath(p)} ?a . }"
        val got = Sparql.select(quads, q).collect().map(_.getString(0)).toSet
        withClue(s"same-variable ends; $clue") {
          got shouldBe want.filter { case (a, b) => a == b }.map(_._1)
        }
      } else {
        val q = s"SELECT DISTINCT ?a ?b WHERE { ?a ${renderPath(p)} ?b . }"
        val got = Sparql.select(quads, q).collect()
          .map(r => (r.getString(0), r.getString(1))).toSet
        withClue(clue) { got shouldBe want }
      }
    }
  }

  // ---- GRAPH scoping over multi-graph stores ----
  // Quad-level reference: a plain pattern ignores the graph column (this
  // engine's default graph is the union of all graphs); GRAPH <g>
  // restricts to one graph; GRAPH ?v additionally unifies ?v with the
  // graph name of every matched quad.
  private type QuadT = (String, String, String, String)
  private case class QPat(s: String, p: String, o: String, g: Option[String])

  private def matchQuad(q: QuadT, pat: QPat, b: Binding): Option[Binding] = {
    val afterSpo = unify(pat.s, q._1, b)
      .flatMap(unify(pat.p, q._2, _)).flatMap(unify(pat.o, q._3, _))
    pat.g.fold(afterSpo)(gt => afterSpo.flatMap(unify(gt, q._4, _)))
  }

  private def evalQuadBgp(data: Seq[QuadT], pats: Seq[QPat],
      init: Seq[Binding]): Seq[Binding] =
    pats.foldLeft(init)((acc, pat) =>
      acc.flatMap(b => data.flatMap(q => matchQuad(q, pat, b))))

  private val graphs = Vector("u:g1", "u:g2")

  "Sparql GRAPH scoping" should "agree with a quad-level evaluator" in {
    for (_ <- 1 to 12) {
      val data: Seq[QuadT] = randomStore()
        .map(t => (t._1, t._2, t._3, graphs(rnd.nextInt(graphs.size))))
      val quads = data.map { case (s, p, o, g) =>
        (s, p, o, (if (o.startsWith("u:")) 0 else 2).toByte,
          null: String, null: String, g) }
        .toDF("s", "p", "o", "oKind", "oDt", "oLang", "g")
      val plain = Seq.fill(rnd.nextInt(3))(randomPat(varPool))
      val inner = Seq.fill(1 + rnd.nextInt(2))(randomPat(varPool))
      val gTerm = if (rnd.nextBoolean()) graphs(rnd.nextInt(graphs.size)) else "?gv"
      val qpats = plain.map(p => QPat(p.s, p.p, p.o, None)) ++
        inner.map(p => QPat(p.s, p.p, p.o, Some(gTerm)))
      val ref = evalQuadBgp(data, qpats, Seq(Map.empty))
      val inScope = (vorsOf(plain) ++ vorsOf(inner) ++
        (if (gTerm.startsWith("?")) Seq(gTerm) else Nil)).distinct
      if (inScope.nonEmpty) {
        val proj = rnd.shuffle(inScope).take(1 + rnd.nextInt(inScope.size))
        val gRend = if (gTerm.startsWith("?")) gTerm else s"<$gTerm>"
        val q = s"SELECT ${proj.mkString(" ")} WHERE { ${renderPats(plain)}" +
          s" GRAPH $gRend { ${renderPats(inner)} } }"
        val got = Sparql.select(quads, q).collect()
          .map(r => proj.indices.map(i =>
            Option(r.get(i)).map(_.toString).orNull).toList).toSeq
        val want = ref.map(b => proj.map(v => b.getOrElse(v, null)).toList)
        val sortKey = (row: List[String]) =>
          row.map(v => if (v == null) "\u0000" else v).mkString("\u0001")
        withClue(s"query: $q\nstore: ${data.sortBy(_.toString)}\n") {
          got.sortBy(sortKey) shouldBe want.sortBy(sortKey)
        }
      }
    }
  }

  // ---- solution modifiers: ORDER BY / OFFSET / LIMIT ----
  // ORDER BY covers EVERY projected var, so rows tied on the sort key are
  // identical rows and the first-k LIST (not just multiset) is unique —
  // exact list equality is a sound check despite arbitrary tie-breaking.
  "Sparql solution modifiers" should "agree on ORDER BY/OFFSET/LIMIT" in {
    for (_ <- 1 to 12) {
      val data = randomStore()
      val quads = toQuadsDf(data)
      val req = Seq.fill(1 + rnd.nextInt(2))(randomPat(varPool))
      val vars = vorsOf(req)
      if (vars.nonEmpty) {
        val proj = rnd.shuffle(vars).take(1 + rnd.nextInt(vars.size))
        val descs = proj.map(_ => rnd.nextBoolean())
        val limit = 1 + rnd.nextInt(8)
        val offset = rnd.nextInt(3)
        val keys = proj.zip(descs)
          .map { case (v, d) => if (d) s"DESC($v)" else v }.mkString(" ")
        val q = s"SELECT ${proj.mkString(" ")} WHERE { ${renderPats(req)} } " +
          s"ORDER BY $keys OFFSET $offset LIMIT $limit"
        val rowOrd = new Ordering[List[String]] {
          def compare(a: List[String], b: List[String]): Int =
            a.lazyZip(b).lazyZip(descs).collectFirst {
              case (x, y, d) if x != y => if (d) y.compareTo(x) else x.compareTo(y)
            }.getOrElse(0)
        }
        val want = evalBgp(data, req, Seq(Map.empty))
          .map(b => proj.map(b).toList).sorted(rowOrd)
          .slice(offset, offset + limit)
        val got = Sparql.select(quads, q).collect()
          .map(r => proj.indices.map(i => r.get(i).toString).toList).toList
        withClue(s"query: $q\nstore: ${data.sortBy(_.toString)}\n") {
          got shouldBe want
        }
      }
    }
  }

  // ---- CONSTRUCT: template instantiation per solution, set semantics ----
  // Template slots are typed to stay valid RDF: subject slots draw from
  // vars seen in subject position (always IRIs here), predicate slots
  // from predicate-position vars or constants.
  "Sparql.construct" should "instantiate templates like the reference evaluator" in {
    for (_ <- 1 to 12) {
      val data = randomStore()
      val quads = toQuadsDf(data)
      val req = Seq.fill(1 + rnd.nextInt(3))(randomPat(varPool))
      val sVars = req.map(_.s).filter(_.startsWith("?")).distinct
      val pVars = req.map(_.p).filter(_.startsWith("?")).distinct
      val oVars = vorsOf(req)
      if (sVars.nonEmpty) {
        val templ = Seq.fill(1 + rnd.nextInt(2))(Pat(
          s = if (rnd.nextBoolean()) sVars(rnd.nextInt(sVars.size))
              else subs(rnd.nextInt(subs.size)),
          p = if (pVars.nonEmpty && rnd.nextInt(3) == 0)
                pVars(rnd.nextInt(pVars.size))
              else preds(rnd.nextInt(preds.size)),
          o = if (rnd.nextBoolean()) oVars(rnd.nextInt(oVars.size))
              else lits(rnd.nextInt(lits.size))))
        val ref = evalBgp(data, req, Seq(Map.empty))
        val want = ref.flatMap(b => templ.map(t => (
          if (t.s.startsWith("?")) b(t.s) else t.s,
          if (t.p.startsWith("?")) b(t.p) else t.p,
          if (t.o.startsWith("?")) b(t.o) else t.o))).toSet
        val q = s"CONSTRUCT { ${renderPats(templ)} } WHERE { ${renderPats(req)} }"
        val got = Sparql.construct(quads, q).collect()
          .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
        withClue(s"query: $q\nstore: ${data.sortBy(_.toString)}\n") {
          got shouldBe want
        }
      }
    }
  }

  // ---- sub-SELECT: projected inner group joined with the outer ----
  // The subquery projects away some inner variables (multiplicity kept —
  // bag semantics), then joins compatible solutions with the outer BGP.
  "Sparql sub-SELECT" should "agree with projection + compatible join" in {
    for (_ <- 1 to 12) {
      val data = randomStore()
      val quads = toQuadsDf(data)
      val outer = Seq.fill(1 + rnd.nextInt(2))(randomPat(varPool))
      val inner = Seq.fill(1 + rnd.nextInt(2))(randomPat(varPool))
      val innerVars = vorsOf(inner)
      if (innerVars.nonEmpty) {
        val sub = rnd.shuffle(innerVars).take(1 + rnd.nextInt(innerVars.size))
        val outerRef = evalBgp(data, outer, Seq(Map.empty))
        val innerRef = evalBgp(data, inner, Seq(Map.empty))
          .map(b => sub.map(v => v -> b(v)).toMap)
        val joined = outerRef.flatMap(b => innerRef.flatMap { c =>
          val shared = b.keySet & c.keySet
          if (shared.forall(k => b(k) == c(k))) Some(b ++ c) else None
        })
        val inScope = (vorsOf(outer) ++ sub).distinct
        val proj = rnd.shuffle(inScope).take(1 + rnd.nextInt(inScope.size))
        val q = s"SELECT ${proj.mkString(" ")} WHERE { ${renderPats(outer)}" +
          s" { SELECT ${sub.mkString(" ")} WHERE { ${renderPats(inner)} } } }"
        val got = Sparql.select(quads, q).collect()
          .map(r => proj.indices.map(i =>
            Option(r.get(i)).map(_.toString).orNull).toList).toSeq
        val want = joined.map(b => proj.map(v => b.getOrElse(v, null)).toList)
        val sortKey = (row: List[String]) =>
          row.map(v => if (v == null) "\u0000" else v).mkString("\u0001")
        withClue(s"query: $q\nstore: ${data.sortBy(_.toString)}\n") {
          got.sortBy(sortKey) shouldBe want.sortBy(sortKey)
        }
      }
    }
  }

  // ---- aggregates: GROUP BY + COUNT(?x) / COUNT(*) ----
  // COUNT(?x) must skip solutions where ?x is unbound (OPTIONAL makes
  // that reachable); COUNT(*) counts every solution in the group.
  "Sparql aggregates" should "agree on GROUP BY + COUNT over random stores" in {
    for (_ <- 1 to 12) {
      val data = randomStore()
      val quads = toQuadsDf(data)
      val req = Seq.fill(1 + rnd.nextInt(2))(randomPat(varPool))
      val opt = if (rnd.nextBoolean())
        Some(Seq.fill(1)(randomPat(varPool))) else None
      val reqVars = vorsOf(req)
      val allVars = (reqVars ++ opt.toSeq.flatMap(vorsOf)).distinct
      if (reqVars.nonEmpty && allVars.size >= 2) {
        val g = reqVars(rnd.nextInt(reqVars.size))
        val x = allVars.filterNot(_ == g)(rnd.nextInt(allVars.size - 1))
        var ref = evalBgp(data, req, Seq(Map.empty))
        ref = opt.fold(ref)(o => leftJoin(ref, data, o))
        val kind = rnd.nextInt(4) // 0 COUNT(*), 1 COUNT(?x), 2 MIN, 3 MAX
        val want: Map[String, String] = ref.groupBy(_(g)).map { case (k, rows) =>
          val bound = rows.flatMap(_.get(x))
          k -> (kind match {
            case 0 => rows.size.toString
            case 1 => bound.size.toString
            case 2 => if (bound.isEmpty) null else bound.min
            case _ => if (bound.isEmpty) null else bound.max
          })
        }
        val agg = kind match {
          case 0 => "COUNT(*)"
          case 1 => s"COUNT($x)"
          case 2 => s"MIN($x)"
          case _ => s"MAX($x)"
        }
        val q = s"SELECT $g ($agg AS ?n) WHERE { ${renderPats(req)}" +
          opt.fold("")(o => s" OPTIONAL { ${renderPats(o)} }") +
          s" } GROUP BY $g"
        val got = Sparql.select(quads, q).collect()
          .map(r => (r.getString(0), Option(r.get(1)).map(_.toString).orNull)).toMap
        withClue(s"query: $q\nstore: ${data.sortBy(_.toString)}\n") {
          got shouldBe want
        }
      }
    }
  }

  // ---- term-metadata fuzzing over multi-group shapes ----
  // q205's bug class: the __dt/__lang/__kind side columns carried for
  // LANG/DATATYPE/isLiteral must NEVER act as join keys — when they did,
  // the null-metadata (plain-literal) solutions vanished from every
  // GRAPH+GRAPH / OPTIONAL / FILTER EXISTS shape with a shared
  // literal-valued variable. This survived 11 rounds of fixed oracles
  // because nothing generated those shapes; generate them. Metadata is
  // DETERMINISTIC PER LEXICAL VALUE, so the reference evaluator can model
  // the engine's documented lexical-value join semantics exactly and
  // compute the metadata builtins from a value → (dt, lang) map.
  private val metaLits = Vector("la", "lb", "lc", "ld")
  private val litMeta: Map[String, (String, String)] = Map(
    "la" -> ((null, null)), // plain literal: NULL dt and lang — the q205 case
    "lb" -> ((null, "en")),
    "lc" -> (("u:dt1", null)),
    "ld" -> ((null, null)))
  private val XsdStr = "http://www.w3.org/2001/XMLSchema#string"
  private val RdfLangStr = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"

  private def refIsLit(v: String): Boolean = !v.startsWith("u:")
  private def refLang(v: String): String =
    if (!refIsLit(v)) "" else Option(litMeta(v)._2).getOrElse("")
  private def refDatatype(v: String): String =
    if (!refIsLit(v)) null
    else litMeta(v) match {
      case (_, l) if l != null => RdfLangStr
      case (d, _) if d != null => d
      case _ => XsdStr
    }

  private def randomMetaStore(): Seq[QuadT] =
    Seq.fill(25 + rnd.nextInt(15)) {
      val o = if (rnd.nextBoolean()) subs(rnd.nextInt(subs.size))
      else metaLits(rnd.nextInt(metaLits.size))
      (subs(rnd.nextInt(subs.size)), preds(rnd.nextInt(preds.size)), o,
        graphs(rnd.nextInt(graphs.size)))
    }.distinct

  private def toMetaQuadsDf(data: Seq[QuadT]) =
    data.map { case (s, p, o, g) =>
      val (dt, lang) =
        if (o.startsWith("u:")) (null: String, null: String) else litMeta(o)
      (s, p, o, (if (o.startsWith("u:")) 0 else 2).toByte, dt, lang, g)
    }.toDF("s", "p", "o", "oKind", "oDt", "oLang", "g")

  private def quadLeftJoin(left: Seq[Binding], data: Seq[QuadT],
      opt: Seq[QPat]): Seq[Binding] =
    left.flatMap { b =>
      val ext = evalQuadBgp(data, opt, Seq(b))
      if (ext.nonEmpty) ext else Seq(b)
    }

  "Sparql term metadata" should "never turn dt/lang/kind side columns into join keys" in {
    for (_ <- 1 to 12) {
      val data = randomMetaStore()
      val quads = toMetaQuadsDf(data)
      // group 1 always binds its first pattern's object to a var so a
      // metadata builtin has a legal target
      val v1 = varPool(rnd.nextInt(varPool.size))
      val g1pats = Pat(
        s = if (rnd.nextBoolean()) varPool(rnd.nextInt(varPool.size))
            else subs(rnd.nextInt(subs.size)),
        p = preds(rnd.nextInt(preds.size)), o = v1) +:
        Seq.fill(rnd.nextInt(2))(randomPat(varPool))
      val g2pats = Seq.fill(1 + rnd.nextInt(2))(randomPat(varPool))
      val shape = rnd.nextInt(3) // 0 GRAPH+GRAPH, 1 OPTIONAL, 2 FILTER EXISTS
      val metaFilter = rnd.nextInt(4) match {
        case 0 => (s"isLiteral($v1)", (b: Binding) => refIsLit(b(v1)))
        case 1 => (s"""LANG($v1) = "en"""", (b: Binding) => refLang(b(v1)) == "en")
        case 2 => (s"DATATYPE($v1) = <u:dt1>",
          (b: Binding) => refDatatype(b(v1)) == "u:dt1")
        case _ => (s"DATATYPE($v1) = <$XsdStr>",
          (b: Binding) => refDatatype(b(v1)) == XsdStr)
      }
      val (text, ref, inScope) = shape match {
        case 0 =>
          // two GRAPH groups (constant or shared/distinct variable terms)
          val gt1 = if (rnd.nextBoolean()) graphs(rnd.nextInt(graphs.size)) else "?gv"
          val gt2 = rnd.nextInt(3) match {
            case 0 => graphs(rnd.nextInt(graphs.size))
            case 1 => "?gv" // shared graph var
            case _ => "?gw"
          }
          def rend(t: String) = if (t.startsWith("?")) t else s"<$t>"
          val qpats = g1pats.map(p => QPat(p.s, p.p, p.o, Some(gt1))) ++
            g2pats.map(p => QPat(p.s, p.p, p.o, Some(gt2)))
          val ref0 = evalQuadBgp(data, qpats, Seq(Map.empty))
            .filter(metaFilter._2)
          (s"GRAPH ${rend(gt1)} { ${renderPats(g1pats)} } " +
            s"GRAPH ${rend(gt2)} { ${renderPats(g2pats)} } " +
            s"FILTER(${metaFilter._1})",
            ref0,
            (vorsOf(g1pats) ++ vorsOf(g2pats) ++
              Seq(gt1, gt2).filter(_.startsWith("?"))).distinct)
        case 1 =>
          val req = g1pats.map(p => QPat(p.s, p.p, p.o, None))
          val opt = g2pats.map(p => QPat(p.s, p.p, p.o, None))
          val ref0 = quadLeftJoin(
            evalQuadBgp(data, req, Seq(Map.empty)).filter(metaFilter._2),
            data, opt)
          (s"${renderPats(g1pats)} FILTER(${metaFilter._1}) " +
            s"OPTIONAL { ${renderPats(g2pats)} }",
            ref0, (vorsOf(g1pats) ++ vorsOf(g2pats)).distinct)
        case _ =>
          val req = g1pats.map(p => QPat(p.s, p.p, p.o, None))
          val inner = g2pats.map(p => QPat(p.s, p.p, p.o, None))
          val neg = rnd.nextBoolean()
          val ref0 = evalQuadBgp(data, req, Seq(Map.empty))
            .filter(metaFilter._2)
            .filter(b => evalQuadBgp(data, inner, Seq(b)).nonEmpty != neg)
          (s"${renderPats(g1pats)} FILTER(${metaFilter._1}) " +
            s"FILTER ${if (neg) "NOT " else ""}EXISTS { ${renderPats(g2pats)} }",
            ref0, vorsOf(g1pats).distinct)
      }
      val proj = rnd.shuffle(inScope).take(1 + rnd.nextInt(inScope.size))
      val q = s"SELECT ${proj.mkString(" ")} WHERE { $text }"
      val got = Sparql.select(quads, q).collect()
        .map(r => proj.indices.map(i =>
          Option(r.get(i)).map(_.toString).orNull).toList).toSeq
      val want = ref.map(b => proj.map(v => b.getOrElse(v, null)).toList)
      val sortKey = (row: List[String]) =>
        row.map(v => if (v == null) "\u0000" else v).mkString("\u0001")
      withClue(s"query: $q\nstore: ${data.sortBy(_.toString)}\n") {
        got.sortBy(sortKey) shouldBe want.sortBy(sortKey)
      }
    }
  }

  // ---- string-escape round-trips ----
  // r12's escape fix class: ECHAR decode keeping the raw letter ("a\nb"
  // parsing as "anb"), and this round's \UXXXXXXXX support. Random
  // strings over an escape-heavy alphabet go through INSERT DATA and must
  // come back decoded — and FILTER equality must see the same decoding.
  "Sparql string escapes" should "round-trip through INSERT DATA and FILTER" in {
    val seed = Seq(("u:seed", "u:p0", "u:s0", 0.toByte,
      null: String, null: String, "g")).toDF(
      "s", "p", "o", "oKind", "oDt", "oLang", "g")
    val pieces = Vector(
      ("a", "a"), ("b", "b"), (" ", " "),
      ("\\n", "\n"), ("\\t", "\t"), ("\\r", "\r"),
      ("\\\"", "\""), ("\\\\", "\\"),
      ("\\u00e9", "é"), ("é", "é"), // escaped and raw é
      ("\\U0001F600", new String(Character.toChars(0x1F600))))
    for (i <- 1 to 10) {
      val n = 1 + rnd.nextInt(6)
      val picked = Seq.fill(n)(pieces(rnd.nextInt(pieces.size)))
      val (escaped, decoded) = (picked.map(_._1).mkString, picked.map(_._2).mkString)
      val s1 = Sparql.update(seed,
        s"""INSERT DATA { <u:e$i> <u:note> "$escaped" }""")
      val back = s1.where($"p" === "u:note" && $"s" === s"u:e$i")
        .select("o").as[String].head()
      withClue(s"escaped form: [$escaped]\n") { back shouldBe decoded }
      // FILTER equality decodes the comparison literal the same way
      val hit = Sparql.select(s1,
        s"""SELECT ?x WHERE { ?x <u:note> ?v . FILTER(?v = "$escaped") }""")
        .as[String].collect().toSet
      withClue(s"escaped form: [$escaped]\n") { hit should contain(s"u:e$i") }
    }
  }

  // ---- UPDATE with variable GRAPH templates ----
  // q204's bug class: INSERT/DELETE { GRAPH ?g { … } } binding the
  // variable as the LITERAL graph name "?g". Differential against the
  // quad evaluator: the final store (full 7-tuples, metadata included)
  // must equal the reference's set arithmetic.
  "Sparql UPDATE" should "route variable-GRAPH templates per solution binding" in {
    for (_ <- 1 to 8) {
      val data = randomMetaStore()
      val quads = toMetaQuadsDf(data)
      val p0 = preds(rnd.nextInt(preds.size))
      val subjTerm = if (rnd.nextBoolean()) "?x" else subs(rnd.nextInt(subs.size))
      def rendT(t: String) = if (t.startsWith("?")) t else s"<$t>"
      val matched = data.filter { case (s, p, _, _) =>
        p == p0 && (subjTerm == "?x" || subjTerm == s) }
      val insert = rnd.nextBoolean()
      val (update, wantSet) =
        if (insert) {
          val u = s"INSERT { GRAPH ?g { ${rendT(subjTerm)} <u:new> ?n } } " +
            s"WHERE { GRAPH ?g { ${rendT(subjTerm)} <$p0> ?n } }"
          val inserted = matched.map { case (s, _, o, g) =>
            val (dt, lang) =
              if (o.startsWith("u:")) (null: String, null: String) else litMeta(o)
            (s, "u:new", o, (if (o.startsWith("u:")) 0 else 2).toByte, dt, lang, g)
          }
          (u, (data.map { case (s, p, o, g) =>
            val (dt, lang) =
              if (o.startsWith("u:")) (null: String, null: String) else litMeta(o)
            (s, p, o, (if (o.startsWith("u:")) 0 else 2).toByte, dt, lang, g)
          } ++ inserted).toSet)
        } else {
          val u = s"DELETE { GRAPH ?g { ${rendT(subjTerm)} <$p0> ?n } } " +
            s"WHERE { GRAPH ?g { ${rendT(subjTerm)} <$p0> ?n } }"
          val survivors = data.filterNot(q => matched.contains(q))
          (u, survivors.map { case (s, p, o, g) =>
            val (dt, lang) =
              if (o.startsWith("u:")) (null: String, null: String) else litMeta(o)
            (s, p, o, (if (o.startsWith("u:")) 0 else 2).toByte, dt, lang, g)
          }.toSet)
        }
      val got = Sparql.update(quads, update).collect().map(r =>
        (r.getString(0), r.getString(1), r.getString(2), r.getByte(3),
          r.getString(4), r.getString(5), r.getString(6))).toSet
      withClue(s"update: $update\nstore: ${data.sortBy(_.toString)}\n") {
        got shouldBe wantSet
      }
    }
  }

  // ---- numeric aggregates: SUM / AVG / SUM(DISTINCT) over integer
  // lexical literals (Spark's sum casts the lexical form; the reference
  // computes in exact BigDecimal — numeric compare, not string compare)
  "Sparql numeric aggregates" should "agree on SUM/AVG over random integer stores" in {
    for (_ <- 1 to 10) {
      val n = 4 + rnd.nextInt(8)
      val data: Seq[Triple] = (0 until n).flatMap { i =>
        val s = s"u:n$i"
        val g = "g" + rnd.nextInt(3)
        val hasNum = rnd.nextInt(6) > 0 // some subjects lack ?x entirely
        Seq((s, "u:grp", g)) ++
          (if (hasNum) Seq((s, "u:num", rnd.nextInt(100).toString)) else Nil)
      }
      val quads = toQuadsDf(data)
      val kind = rnd.nextInt(3)
      val agg = kind match {
        case 0 => "SUM(?x)"
        case 1 => "AVG(?x)"
        case _ => "SUM(DISTINCT ?x)"
      }
      val q = s"SELECT ?g ($agg AS ?n) WHERE { ?s <u:grp> ?g . ?s <u:num> ?x } GROUP BY ?g"
      val byG = data.collect { case (s, "u:grp", g) => s -> g }.toMap
      val nums = data.collect { case (s, "u:num", v) => s -> v.toInt }
      val want: Map[String, BigDecimal] = nums.groupBy { case (s, _) => byG(s) }
        .map { case (g, vs) =>
          val xs = vs.map(_._2)
          g -> (kind match {
            case 0 => BigDecimal(xs.sum)
            case 1 => BigDecimal(xs.sum) / xs.size
            case _ => BigDecimal(xs.distinct.sum)
          })
        }
      val got = Sparql.select(quads, q).collect()
        .map(r => r.getString(0) -> BigDecimal(r.get(1).toString)).toMap
      withClue(s"query: $q\nstore: ${data.sortBy(_.toString)}\n") {
        got.keySet shouldBe want.keySet
        got.foreach { case (g, v) => (v - want(g)).abs.toDouble should be <= 1e-9 }
      }
    }
  }
}
