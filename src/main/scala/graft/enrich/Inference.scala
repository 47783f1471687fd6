package graft.enrich

import org.apache.spark.sql.{Column, DataFrame, GraftSparkInternals}
import org.apache.spark.sql.functions._

import graft.rdf.QuadDiff

/** Forward-chaining OWL-subset inference to fixpoint — the reference's
  * `core/src/main/com/thymeflow/rdf/sail/inferencer/
  * ForwardChainingSimpleOWLInferencerConnection.scala:23-129`: inverseOf,
  * symmetric, and transitive property rules applied to newly-asserted
  * statements until nothing new derives.
  *
  * Expressed as a semi-naive DataFrame fixpoint: per round only the
  * frontier (statements derived last round) joins the rule schema, new
  * conclusions are anti-joined against everything known, lineage is cut
  * per iteration. Inferred quads land in a dedicated graph so they can be
  * retracted wholesale (reference G4's counting retraction simplifies to
  * graph replacement under re-derivation — recompute-and-swap, T6).
  */
object Inference {

  /** RDFS vocabulary spelling — this repo's converters write compact
    * predicate names ('a' parses to "rdf:type"), so the defaults match;
    * pass full IRIs when the store carries them. */
  final case class RdfsVocab(
      typ: String = "rdf:type",
      subClassOf: String = "rdfs:subClassOf",
      subPropertyOf: String = "rdfs:subPropertyOf",
      domain: String = "rdfs:domain",
      range: String = "rdfs:range")

  final case class Rules(
      inverseOf: Map[String, String] = Map.empty, // p -> q and q -> p both applied
      symmetric: Set[String] = Set.empty,
      transitive: Set[String] = Set.empty,
      /** RDFS entailment (the reference stacks a
        * `ForwardChainingRDFSInferencer` under its OWL inferencer,
        * `core/src/main/com/thymeflow/rdf/repository/RepositoryFactory.scala:167-173`):
        * rdfs5/rdfs11 (subPropertyOf/subClassOf transitivity), rdfs7
        * (statement propagation through subPropertyOf), rdfs9 (membership
        * propagation through subClassOf), rdfs2/rdfs3 (domain/range
        * typing). Schema triples are ordinary data in the quad set. */
      rdfs: Option[RdfsVocab] = None)

  val InferredGraph = "graft:inferred"

  /** Close `quads` under the rules; returns ONLY the newly inferred quads
    * (tagged with [[InferredGraph]]).
    *
    * Object kinds thread through the fixpoint: rdfs7 (and transitivity)
    * carry the premise object's (oKind, oDt, oLang) into the conclusion,
    * so a literal-valued statement propagated through subPropertyOf stays
    * a typed literal downstream. Rules that promote an object to subject
    * position (inverseOf, symmetric, transitive's inner join, rdfs3) fire
    * only on resource objects — a literal can't be a subject. Inputs
    * without kind columns (bare (s, p, o) triples) default every object
    * to IRI except `_:`-prefixed terms, which keep the blank-node kind
    * the N-Triples convention implies. */
  def infer(quads: DataFrame, rules: Rules, maxIterations: Int = 30): DataFrame = {
    // subjects are resources by construction; recover the bnode/IRI split
    // from the `_:` label convention when one becomes an object
    def subjectAsObject(s: Column): Seq[Column] = Seq(
      graft.rdf.Bgp.resourceKind(s).as("oKind"),
      lit(null).cast("string").as("oDt"),
      lit(null).cast("string").as("oLang"))
    val kindCols = Seq("oKind", "oDt", "oLang")
    val cols = Seq("s", "p", "o") ++ kindCols
    val withKinds =
      if (quads.columns.contains("oKind"))
        quads.select(cols.map(col): _*)
      else quads.select(Seq(col("s"), col("p"), col("o")) ++ subjectAsObject(col("o")): _*)
    val base = GraftSparkInternals.commit(withKinds.distinct())

    val isResource = col("oKind") =!= graft.rdf.Quad.LITERAL
    def carry(prefix: String): Seq[Column] =
      kindCols.map(c => col(s"$prefix.$c").as(c))

    // rdfs5/rdfs11 are plain transitivity of the two schema predicates
    val transitivePreds = rules.transitive ++
      rules.rdfs.toSeq.flatMap(v => Seq(v.subClassOf, v.subPropertyOf))

    def applyRules(frontier: DataFrame, all: DataFrame): DataFrame = {
      val inv = rules.inverseOf.toSeq.map { case (p, q) =>
        frontier.where(col("p") === p && isResource)
          .select(col("o").as("s") +: lit(q).as("p") +:
            col("s").as("o") +: subjectAsObject(col("s")): _*)
      }
      val sym = rules.symmetric.toSeq.map { p =>
        frontier.where(col("p") === p && isResource)
          .select(col("o").as("s") +: col("p") +:
            col("s").as("o") +: subjectAsObject(col("s")): _*)
      }
      // transitive: frontier ⋈ all (both directions through the frontier);
      // the left statement's object is a subject, so it must be a resource
      val trans = transitivePreds.toSeq.flatMap { p =>
        val f = frontier.where(col("p") === p)
        val a = all.where(col("p") === p)
        Seq((f, a), (a, f)).map { case (x, y) =>
          x.where(isResource).alias("x")
            .join(y.alias("y"), col("x.o") === col("y.s"))
            .select(col("x.s").as("s") +: lit(p).as("p") +:
              col("y.o").as("o") +: carry("y"): _*)
        }
      }
      // RDFS schema-joins, semi-naive in both directions (a new schema
      // statement re-fires over old instance data and vice versa)
      val rdfs = rules.rdfs.toSeq.flatMap { v =>
        def wp(df: DataFrame, pred: String) = df.where(col("p") === pred)
        def both(left: String => DataFrame, right: String => DataFrame,
            join: (DataFrame, DataFrame) => DataFrame): Seq[DataFrame] =
          Seq(join(left("f"), right("a")), join(left("a"), right("f")))
        def pick(which: String, pred: Option[String]): DataFrame = {
          val base = if (which == "f") frontier else all
          pred.map(wp(base, _)).getOrElse(base)
        }
        // rdfs9: (x type c) ⋈ (c subClassOf d) -> (x type d)
        both(w => pick(w, Some(v.typ)), w => pick(w, Some(v.subClassOf)),
          (t, sc) => t.alias("t").join(sc.alias("sc"), col("t.o") === col("sc.s"))
            .select(col("t.s").as("s") +: lit(v.typ).as("p") +:
              col("sc.o").as("o") +: carry("sc"): _*)) ++
        // rdfs7: (s p o) ⋈ (p subPropertyOf q) -> (s q o) — the object
        // rides along unchanged, literal kinds included
        both(w => pick(w, None), w => pick(w, Some(v.subPropertyOf)),
          (x, sp) => x.alias("x").join(sp.alias("sp"), col("x.p") === col("sp.s"))
            .select(col("x.s").as("s") +: col("sp.o").as("p") +:
              col("x.o").as("o") +: carry("x"): _*)) ++
        // rdfs2: (p domain c) ⋈ (s p o) -> (s type c)
        both(w => pick(w, None), w => pick(w, Some(v.domain)),
          (x, d) => x.alias("x").join(d.alias("d"), col("x.p") === col("d.s"))
            .select(col("x.s").as("s") +: lit(v.typ).as("p") +:
              col("d.o").as("o") +: carry("d"): _*)) ++
        // rdfs3: (p range c) ⋈ (s p o) -> (o type c) — only a resource
        // object can take subject position
        both(w => pick(w, None), w => pick(w, Some(v.range)),
          (x, r) => x.alias("x").where(col("x.oKind") =!= graft.rdf.Quad.LITERAL)
            .join(r.alias("r"), col("x.p") === col("r.s"))
            .select(col("x.o").as("s") +: lit(v.typ).as("p") +:
              col("r.o").as("o") +: carry("r"): _*))
      }
      val derived = (inv ++ sym ++ trans ++ rdfs).reduceOption(_ unionByName _)
        .getOrElse(frontier.limit(0))
      derived.where(col("s") =!= col("o") || !col("p").isin(
        (rules.symmetric ++ transitivePreds).toSeq: _*)).distinct()
    }

    var all = base
    var frontier = base
    var inferred = base.limit(0)
    var i = 0
    var done = false
    while (!done && i < maxIterations) {
      // null-safe anti-join: oDt/oLang are null for resources, and
      // EqualTo never matches null = null — a plain using-columns anti
      // join would re-derive every resource-valued quad forever
      val derived = applyRules(frontier, all).alias("d")
      val next = GraftSparkInternals.commit(derived
        .join(all.alias("k"),
          cols.map(c => col(s"d.$c") <=> col(s"k.$c")).reduce(_ && _),
          "left_anti"))
      if (GraftSparkInternals.measured(next)._1 == 0) done = true
      else {
        all = GraftSparkInternals.commit(all.unionByName(next))
        inferred = inferred.unionByName(next)
        frontier = next
      }
      i += 1
    }
    inferred.select(col("s"), col("p"), col("o"),
      col("oKind"), col("oDt"), col("oLang"),
      lit(InferredGraph).as("g"))
  }

  /** G4: reference-counted inference retraction (reference
    * `core/src/main/com/thymeflow/enricher/InferenceCountingInferencer
    * .scala:12-52`): a derived statement stays asserted while its
    * derivation count is positive; when removals drive the count to zero
    * the statement is retracted.
    *
    * @param counts     current (s, p, o, cnt) table
    * @param derivations newly derived statements (bag: one row per
    *                    derivation)
    * @param retractions removed derivations (bag)
    * @return (updated counts table, statements whose count reached zero) */
  def updateInferenceCounts(
      counts: DataFrame,
      derivations: DataFrame,
      retractions: DataFrame): (DataFrame, DataFrame) = {
    val key = Seq("s", "p", "o")
    val delta = derivations.select(key.map(col): _*).withColumn("d", lit(1L))
      .unionByName(retractions.select(key.map(col): _*).withColumn("d", lit(-1L)))
      .groupBy(key.map(col): _*).agg(sum(col("d")).as("d"))
    val merged = counts.select(col("s"), col("p"), col("o"), col("cnt"))
      .join(delta, key, "full_outer")
      .select(col("s"), col("p"), col("o"),
        (coalesce(col("cnt"), lit(0L)) + coalesce(col("d"), lit(0L))).as("cnt"),
        coalesce(col("cnt"), lit(0L)).as("prev"))
    val retracted = merged.where(col("cnt") <= 0 && col("prev") > 0)
      .select(col("s"), col("p"), col("o"))
    (merged.where(col("cnt") > 0).select(col("s"), col("p"), col("o"), col("cnt")),
      retracted)
  }

  /** sameAs-closure equivalence classes with the reference's differentFrom
    * guard (`core/src/main/com/thymeflow/enricher/AbstractEnricher.scala:17-23`):
    * sameAs edges whose endpoints are transitively declared different are
    * dropped before closing. Returns (id, component). */
  def sameAsClasses(
      sameAs: DataFrame, // (s1, s2)
      differentFrom: DataFrame // (s1, s2)
  ): DataFrame = {
    val guarded = sameAs
      .join(differentFrom.select(col("s1"), col("s2")),
        Seq("s1", "s2"), "left_anti")
      .join(differentFrom.select(col("s2").as("s1"), col("s1").as("s2")),
        Seq("s1", "s2"), "left_anti")
    val vertices = sameAs.select(col("s1").as("id"))
      .union(sameAs.select(col("s2").as("id"))).distinct()
    graft.graph.GraphOps.connectedComponents(
      guarded.select(col("s1").as("src"), col("s2").as("dst")),
      vertices = Some(vertices))
  }
}
