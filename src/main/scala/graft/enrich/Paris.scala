package graft.enrich

import org.apache.spark.sql.{Column, DataFrame, GraftSparkInternals}
import org.apache.spark.sql.functions._

/** PARIS-style probabilistic instance alignment (reference
  * `thymeflow/src/main/com/thymeflow/enricher/entityresolution/
  * ParisEnricher.scala:189-275`, after Suchanek et al., "PARIS:
  * Probabilistic Alignment of Relations, Instances, and Schema", VLDB'12 —
  * public algorithm): iteratively estimate instance-equivalence
  * probabilities from shared statements, weighting evidence by the inverse
  * functionality of each predicate, with probability products computed as
  * exp(sum(log ...)) — the LogNum discipline
  * (`mathematics/src/main/com/thymeflow/mathematics/LogNum.scala:10-171`)
  * done columnar.
  *
  * Each iteration is: candidate pairs from shared (p, o) evidence (an
  * equi-join, never a cross product) -> per-pair aggregate
  * 1 - Π(1 - invFun(p) · eqObj) -> threshold. Object equivalence feeds the
  * next round, so matches propagate through linked entities.
  */
object Paris {

  /** Inverse functionality per predicate: invFun(p) =
    * #distinct objects of p / #(s,o) statements of p — a predicate whose
    * value pins down its subject (email) scores near 1; a broad one
    * (country) near 0. */
  def inverseFunctionality(statements: DataFrame): DataFrame =
    statements.select("s", "p", "o").distinct() // duplicated assertions are not extra evidence
      .groupBy("p")
      .agg((countDistinct(col("o")).cast("double") / count(lit(1))).as("inv_fun"))

  /** @param left  statements (s, p, o) of the first instance set
    * @param right statements (s, p, o) of the second
    * @param iterations fixpoint rounds (reference default 10)
    * @return (s1, s2, prob) alignment probabilities >= threshold */
  def align(
      left: DataFrame,
      right: DataFrame,
      iterations: Int = 10,
      threshold: Double = 0.5): DataFrame = {
    val spark = left.sparkSession
    val all = left.unionByName(right)
    val invFun = broadcast(inverseFunctionality(all))

    // literal-equality seeds: objects equal as terms have eqObj = 1
    def round(objEq: Option[DataFrame]): DataFrame = {
      val l = left.alias("l")
      val r = right.alias("r")
      // evidence rows: statements agreeing on p with equivalent objects
      val direct = l.join(r, col("l.p") === col("r.p") && col("l.o") === col("r.o"))
        .select(col("l.s").as("s1"), col("r.s").as("s2"), col("l.p").as("p"),
          lit(1.0).as("eq_obj"))
      val viaEq = objEq match {
        case Some(eq) =>
          l.join(eq.alias("e"), col("l.o") === col("e.s1"))
            .join(r, col("l.p") === col("r.p") && col("r.o") === col("e.s2"))
            .select(col("l.s").as("s1"), col("r.s").as("s2"), col("l.p").as("p"),
              col("e.prob").as("eq_obj"))
        case None => direct.limit(0)
      }
      direct.unionByName(viaEq)
        .join(invFun, Seq("p"))
        // per pair: prob = 1 - Π (1 - invFun·eqObj), product via sum of logs
        .groupBy(col("s1"), col("s2"))
        .agg((lit(1.0) - exp(sum(log(
          greatest(lit(1e-12), lit(1.0) - col("inv_fun") * col("eq_obj"))))))
          .as("prob"))
    }

    var eq = GraftSparkInternals.commit(round(None).where(col("prob") >= threshold))
    for (_ <- 2 to iterations) {
      eq = GraftSparkInternals.commit(round(Some(eq)).where(col("prob") >= threshold))
    }
    eq
  }

  /** Exact product of per-group factors: collected, sorted (deterministic
    * fold order), folded with real multiplication — NOT exp(sum(log)),
    * so dyadic-rational factor sets produce bit-exact products that a SQL
    * oracle's product() reproduces. Group sizes are bounded by statements
    * per instance pair (a handful of names/emails in the reference's
    * domain), so the collected arrays stay tiny at any corpus size. */
  private def prodExact(factor: Column): Column =
    aggregate(array_sort(collect_list(factor)), lit(1.0), (acc, v) => acc * v)

  /** Full PARIS evidence model (reference `ParisEnricher.scala:189-275`,
    * after Suchanek et al. VLDB'12 §4): per candidate pair (x, x'),
    *
    *  - positive evidence from INVERSE-FUNCTIONAL properties: two
    *    instances sharing a value that pins down its subject are likely
    *    equal —
    *    `P+ = 1 - Π_{(x,p,y), invFun(p)>0} Π_{(x',p,y')} (1 - invFun(p)·P(y≈y'))`
    *  - negative evidence from FUNCTIONAL properties: if x' has values for
    *    a functional p but none equivalent to x's value, that argues
    *    against equality —
    *    `P- = Π_{(x,p,y), fun(p)>0, ∃(x',p,·)} (1 - fun(p)·Π_{(x',p,y')} (1 - P(y≈y')))`
    *    — the product ranges only over properties x' actually has a
    *    statement for (Suchanek §4 multiplies over statement PAIRS; an
    *    entity silent on p contributes no factor, so sparse entities are
    *    not penalized for missing data)
    *  - `P(x≡x') = P+ · P-`
    *
    * Object equivalence P(y≈y') is the literal-similarity table for
    * literal objects (self-equality 1 included, matching the reference's
    * EqualityStore.selfEquality) and the PREVIOUS iteration's instance
    * equalities for instance-valued objects — the feedback that makes the
    * 10-round loop (`ParisEnricher.scala:158,189-200`) a fixpoint:
    * matches propagate through linked entities one hop per round.
    *
    * Spark shape: candidates come from equi-joins through the object-
    * equivalence table (output-bound, never a cross product); both
    * evidence products are per-pair aggregates; each round is one
    * checkpointed DataFrame. Everything shuffles on (x1, x2).
    *
    * @param stmts (x, p, o, oIsInstance) statements; duplicates ignored
    * @param litEq (o1, o2, prob) literal similarity (any orientation;
    *              symmetrized and self-closed here)
    * @param props (p, fun, inv_fun) per-property (inverse-)functionality
    *              priors (reference `ParisEnricher.scala:50-55`)
    * @return directed candidate pairs (x1, x2, prob), prob > 0 */
  def resolve(
      stmts: DataFrame,
      litEq: DataFrame,
      props: DataFrame,
      iterations: Int = 10,
      threshold: Double = 0.0): DataFrame = {
    val st = GraftSparkInternals.commit(
      stmts.select(col("x"), col("p"), col("o"), col("oIsInstance")).distinct())
    val pr = broadcast(props.select(col("p"), col("fun"), col("inv_fun")))

    def symWithIdentity(eq: DataFrame, ids: DataFrame): DataFrame =
      eq.select(col("o1"), col("o2"), col("prob"))
        .union(eq.select(col("o2").as("o1"), col("o1").as("o2"), col("prob")))
        .union(ids.select(col("o").as("o1"), col("o").as("o2"), lit(1.0).as("prob")))
        .groupBy(col("o1"), col("o2")).agg(max(col("prob")).as("prob"))
        .where(col("prob") > 0)

    val litEqFull = GraftSparkInternals.commit(symWithIdentity(
      litEq, st.where(!col("oIsInstance")).select(col("o")).distinct())
      .withColumn("objIsInstance", lit(false)))
    val instIds = GraftSparkInternals.commit(
      st.where(col("oIsInstance")).select(col("o")).distinct())

    val a = st.alias("a")
    val b = st.alias("b")
    var instEq = litEq.sparkSession.createDataFrame(
      litEq.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("x1",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("x2",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("prob",
          org.apache.spark.sql.types.DoubleType))))

    for (_ <- 1 to iterations) {
      val objEq = litEqFull.unionByName(
        symWithIdentity(
          instEq.select(col("x1").as("o1"), col("x2").as("o2"), col("prob")),
          instIds)
          .withColumn("objIsInstance", lit(true)))
      // evidence rows: x's statement (a) reaches x's candidate's statement
      // (b) through an equivalent object under the SAME property
      val ev = GraftSparkInternals.commit(a
        .join(objEq.alias("e"),
          col("a.o") === col("e.o1") && col("a.oIsInstance") === col("e.objIsInstance"))
        .join(b,
          col("b.p") === col("a.p") && col("b.o") === col("e.o2") &&
            col("b.oIsInstance") === col("a.oIsInstance") &&
            col("b.x") =!= col("a.x"))
        .join(pr, col("a.p") === pr("p"))
        .select(col("a.x").as("x1"), col("b.x").as("x2"), col("a.p").as("sp"),
          col("a.o").as("y"), col("fun"), col("inv_fun"), col("e.prob").as("eq")))
      val cand = ev.where(col("fun") > 0 || col("inv_fun") > 0)
        .select(col("x1"), col("x2")).distinct()
      val posDf = ev.where(col("inv_fun") > 0)
        .groupBy(col("x1"), col("x2"))
        .agg(prodExact(lit(1.0) - col("inv_fun") * col("eq")).as("pos"))
      val innerDf = ev.where(col("fun") > 0)
        .groupBy(col("x1"), col("x2"), col("sp"), col("y"))
        .agg(prodExact(lit(1.0) - col("eq")).as("inner"))
      val funStmts = st.join(pr, Seq("p")).where(col("fun") > 0)
        .select(col("x").as("x1"), col("p").as("sp"), col("o").as("y"), col("fun"))
      // Suchanek §4's disagreement penalty multiplies over pairs of
      // statements (x,p,y), (x',p,y') — BOTH must exist. An x2 with no
      // statement at all for p contributes no factor: silence is not
      // counter-evidence (the common case for sparse personal-data
      // entities). Note the reference's ParisEnricher.scala:257-270
      // deviates from the paper here — its inner product over
      // statementsFrom(xPrime, p) is an empty product (= 1) when xPrime
      // is silent, firing the full (1 - fun) penalty; we follow the paper.
      val x2Props = st.join(pr, Seq("p")).where(col("fun") > 0)
        .select(col("x").as("x2"), col("p").as("sp")).distinct()
      val negDf = cand
        .join(funStmts, Seq("x1"))
        .join(x2Props, Seq("x2", "sp"), "left_semi")
        .join(innerDf, Seq("x1", "x2", "sp", "y"), "left_outer")
        .groupBy(col("x1"), col("x2"))
        .agg(prodExact(
          lit(1.0) - col("fun") * coalesce(col("inner"), lit(1.0))).as("neg"))
      instEq = GraftSparkInternals.commit(cand
        .join(posDf, Seq("x1", "x2"), "left_outer")
        .join(negDf, Seq("x1", "x2"), "left_outer")
        .select(col("x1"), col("x2"),
          ((lit(1.0) - coalesce(col("pos"), lit(1.0))) *
            coalesce(col("neg"), lit(1.0))).as("prob"))
        .where(col("prob") > 0))
    }
    instEq.where(col("prob") >= threshold)
  }
}
