package graft.core

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftPin
import org.apache.spark.storage.StorageLevel

/** The knowledge base: four ABox fact tables + TBox metadata.
  *
  * Mirrors the capability surface of the reference `KnowledgeBase`
  * (ontolearn_light/knowledge_base.py:47-190) re-expressed as immutable
  * Spark DataFrames. The big tables are distributed; the TBox is a small
  * driver-side value (broadcast into joins automatically by size).
  *
  * All derivations (sampling, subgraph materialization, ignore-lists) are
  * pure functions Kb => Kb built from semi/anti joins — there is no "reload
  * pristine ontology" step (reference ontosample/_base.py:173-175) because
  * inputs are immutable.
  */
final case class Kb(
    nodes: DataFrame,   // id
    edges: DataFrame,   // src, pred, dst
    attrs: DataFrame,   // node, prop, lexical, dtype
    types: DataFrame,   // node, cls
    tbox: Tbox) {

  import Schemas._

  def spark: SparkSession = nodes.sparkSession

  /** ABox triples in `iri` mode (reference knowledge_base.py:208-306):
    * per individual, direct rdf:type rows + data-property rows (lexical
    * form) + object-property rows. One union-all plan — Catalyst prunes
    * columns per branch. */
  def aboxTriples: DataFrame =
    types.select(col("node").as("subj"), lit(RdfType).as("pred"), col("cls").as("obj"))
      .unionAll(attrs.select(col("node").as("subj"), col("prop").as("pred"), col("lexical").as("obj")))
      .unionAll(edges.select(col("src").as("subj"), col("pred"), col("dst").as("obj")))

  /** SPARQL DESCRIBE of a resource set — symmetric CBD (this model has no
    * blank nodes, so the W3C's bnode closure is vacuous and the common
    * symmetric form applies): the resources' rdf:type rows, data-property
    * rows (lexical as object), and outgoing AND incoming object-property
    * rows. Four IN-filtered scans (the filters push into parquet) unioned,
    * DISTINCT per RDF graph set semantics. Resource lists are user-scale —
    * an IN-list, never a join. */
  def describe(ids: Seq[String]): DataFrame = {
    require(ids.nonEmpty, "DESCRIBE needs at least one resource")
    types.filter(col("node").isin(ids: _*))
      .select(col("node").as("subj"), lit(RdfType).as("pred"), col("cls").as("obj"))
      .unionAll(attrs.filter(col("node").isin(ids: _*))
        .select(col("node").as("subj"), col("prop").as("pred"), col("lexical").as("obj")))
      .unionAll(edges.filter(col("src").isin(ids: _*))
        .select(col("src").as("subj"), col("pred"), col("dst").as("obj")))
      .unionAll(edges.filter(col("dst").isin(ids: _*))
        .select(col("src").as("subj"), col("pred"), col("dst").as("obj")))
      .distinct()
  }

  /** TBox triples, iri mode (reference knowledge_base.py:308-434; dp ranges
    * skipped per the reference quirk). Driver-scale. */
  def tboxTriples: DataFrame =
    spark.createDataset(tbox.tripleRows())(
      org.apache.spark.sql.Encoders.product[Triple]).toDF()

  /** Full triple export (reference knowledge_base.py:436-448) — the
    * P/R comparison surface of the north rule. */
  def triples: DataFrame = aboxTriples.unionAll(tboxTriples)

  /** ABox `expression` mode (reference knowledge_base.py:262-302): per node,
    * emit (1) each direct class (the reference yields the OWLClass for
    * rdf:type triples), (2) ∃p.{lexical} per data-property literal
    * (OWLDataSomeValuesFrom over OWLDataOneOf), (3) ∃r.{x} for each object,
    * (4) ∃r.C per distinct (pred, class of object), and (5) ≥n r.C when a
    * (pred, class) pair occurs more than once. Expressed as one
    * hash-aggregate plan (partial + final handled by Catalyst). */
  def aboxExpression: DataFrame = {
    val classRows = types.select(col("node").as("subj"), col("cls").as("expr"))
    val dataOneOf = attrs.select(
      col("node").as("subj"),
      concat(lit("∃"), col("prop"), lit(".{"), col("lexical"), lit("}")).as("expr"))
    val hasValue = edges.select(
      col("src").as("subj"),
      concat(lit("∃"), col("pred"), lit(".{"), col("dst"), lit("}")).as("expr"))
    val byType = edges
      .join(types.withColumnRenamed("node", "dst"), Seq("dst"))
      .groupBy(col("src").as("subj"), col("pred"), col("cls"))
      .agg(count(lit(1)).as("n"))
    val existsC = byType.select(col("subj"),
      concat(lit("∃"), col("pred"), lit("."), col("cls")).as("expr"))
    // reference emits the cardinality row only when count > 1 (knowledge_base.py:295-302)
    val minCard = byType.filter(col("n") > 1).select(col("subj"),
      concat(lit("≥"), col("n"), lit(" "), col("pred"), lit("."), col("cls")).as("expr"))
    classRows.unionAll(dataOneOf).unionAll(hasValue).unionAll(existsC).unionAll(minCard)
  }

  /** Per-individual accessors (reference knowledge_base.py:1074-1150,
    * SURVEY F5-F7) — point lookups expressed as pushdown-friendly filters. */
  def typesOf(id: String): DataFrame =
    types.filter(col("node") === id).select(col("cls"))
  def objectPropertiesOf(id: String): DataFrame =
    edges.filter(col("src") === id).select(col("pred")).distinct()
  def dataPropertiesOf(id: String): DataFrame =
    attrs.filter(col("node") === id).select(col("prop")).distinct()
  def objectPropertyValues(id: String, prop: String): DataFrame =
    edges.filter(col("src") === id && col("pred") === prop).select(col("dst"))
  def dataPropertyValues(id: String, prop: String): DataFrame =
    attrs.filter(col("node") === id && col("prop") === prop)
      .select(col("lexical"), col("dtype"))

  /** Signature scans (reference _base.py:71-73, knowledge_base.py:978-1040). */
  def individuals: DataFrame = nodes
  def objectPropertiesInSignature: Seq[String] = tbox.objectProps.map(_.prop)
  def dataPropertiesInSignature: Seq[String] = tbox.dataProps.map(_.prop)
  def classesInSignature: Seq[String] = tbox.classes

  /** Typed data-property accessors (reference knowledge_base.py:1042-1072):
    * enumerate the data properties whose declared range falls in a datatype
    * group — what a concept learner needs to enumerate boolean/numeric/time
    * data restrictions. */
  def booleanDataProperties: Seq[String] =
    tbox.dataPropsByRange(DatatypeGroups.Boolean).map(_.prop)
  def numericDataProperties: Seq[String] =
    tbox.dataPropsByRange(DatatypeGroups.Numeric).map(_.prop)
  def doubleDataProperties: Seq[String] =
    tbox.dataPropsByRange(DatatypeGroups.Double).map(_.prop)
  def timeDataProperties: Seq[String] =
    tbox.dataPropsByRange(DatatypeGroups.Time).map(_.prop)

  /** Typed-column materialization of a datatype group (SURVEY §1.3): the
    * assertions of the group's properties with `lexical` cast to `castTo`
    * ((node, prop, value)). The prop list is driver-scale, so the filter is
    * an isin that pushes down to the attrs scan. try_cast, not cast: under
    * ANSI (Spark 4 default) one junk lexical on a DECLARED-typed property
    * would throw and kill the whole scan — the reference's Python accessors
    * raise there too, but a 10¹²-assertion pipeline must degrade per ROW;
    * unparseable assertions simply aren't typed values and drop. */
  def typedDataValues(group: Set[String], castTo: String): DataFrame = {
    val props = tbox.dataPropsByRange(group).map(_.prop)
    attrs.filter(col("prop").isInCollection(props))
      .select(col("node"), col("prop"),
        expr(s"try_cast(lexical AS $castTo)").as("value"))
      .filter(col("value").isNotNull)
  }

  /** Hierarchy navigation (reference knowledge_base.py:729-966) — thin
    * wrappers over the driver-scale [[Tbox]] maps. */
  def getLeafConcepts(c: String): Seq[String] = tbox.leafClasses(Some(c))
  def getLeastGeneralNamedConcepts: Seq[String] = tbox.leafClasses()
  def getMostGeneralClasses: Seq[String] = tbox.rootClasses
  def getDirectSubConcepts(c: String): Seq[String] = tbox.directSubClassesOf(c)
  def getDirectParents(c: String): Seq[String] = tbox.directParentsOf(c)
  def getAllSubConcepts(c: String): Set[String] = tbox.allSubClassesOf(c)

  /** most_general_object_properties (reference knowledge_base.py:626-641):
    * the object-property-hierarchy roots whose declared domain (range when
    * `inverse` — the role will be used inverted) covers every individual of
    * `domain`. Each containment test is one anti-join emptiness probe;
    * the property list is driver-scale, `domain`'s retrieval is cached
    * across probes. An undeclared domain/range acts as ⊤. */
  def mostGeneralObjectProperties(domain: graft.expr.ClassExpr,
                                  inverse: Boolean = false): Seq[String] = {
    if (domain == graft.expr.Top) return tbox.mostGeneralObjectProps.map(_.prop)
    val domInds = graft.expr.Eval(this, domain).cache()
    try tbox.mostGeneralObjectProps.filter { p =>
      val cls = if (inverse) p.range else p.domain
      cls.isEmpty ||
        domInds.join(graft.expr.Eval(this, graft.expr.Named(cls)), Seq("id"), "left_anti").isEmpty
    }.map(_.prop)
    finally domInds.unpersist()
  }

  /** data_properties_for_domain (reference knowledge_base.py:643-655):
    * the given data properties whose declared domain covers `domain`. */
  def dataPropertiesForDomain(domain: graft.expr.ClassExpr,
                              props: Seq[String]): Seq[String] = {
    if (domain == graft.expr.Top) return props
    val metaOf = tbox.dataProps.map(p => p.prop -> p).toMap
    val domInds = graft.expr.Eval(this, domain).cache()
    try props.filter { pn =>
      val cls = metaOf.get(pn).map(_.domain).getOrElse("")
      cls.isEmpty ||
        domInds.join(graft.expr.Eval(this, graft.expr.Named(cls)), Seq("id"), "left_anti").isEmpty
    }
    finally domInds.unpersist()
  }

  /** most_general_*_data_properties (reference knowledge_base.py:820-862) */
  def mostGeneralDataProperties(domain: graft.expr.ClassExpr): Seq[String] =
    dataPropertiesForDomain(domain, dataPropertiesInSignature)
  def mostGeneralBooleanDataProperties(domain: graft.expr.ClassExpr): Seq[String] =
    dataPropertiesForDomain(domain, booleanDataProperties)
  def mostGeneralNumericDataProperties(domain: graft.expr.ClassExpr): Seq[String] =
    dataPropertiesForDomain(domain, numericDataProperties)
  def mostGeneralTimeDataProperties(domain: graft.expr.ClassExpr): Seq[String] =
    dataPropertiesForDomain(domain, timeDataProperties)

  /** most_general_existential/universal_restrictions (+ inverse forms,
    * reference knowledge_base.py:864-940): one restriction per qualifying
    * most-general role, filler defaulting to ⊤. */
  def mostGeneralExistentialRestrictions(
      domain: graft.expr.ClassExpr,
      filler: graft.expr.ClassExpr = graft.expr.Top): Seq[graft.expr.ClassExpr] =
    mostGeneralObjectProperties(domain).map(graft.expr.Exists(_, filler))
  def mostGeneralUniversalRestrictions(
      domain: graft.expr.ClassExpr,
      filler: graft.expr.ClassExpr = graft.expr.Top): Seq[graft.expr.ClassExpr] =
    mostGeneralObjectProperties(domain).map(graft.expr.ForAll(_, filler))
  def mostGeneralExistentialRestrictionsInverse(
      domain: graft.expr.ClassExpr,
      filler: graft.expr.ClassExpr = graft.expr.Top): Seq[graft.expr.ClassExpr] =
    mostGeneralObjectProperties(domain, inverse = true).map(graft.expr.ExistsInverse(_, filler))
  def mostGeneralUniversalRestrictionsInverse(
      domain: graft.expr.ClassExpr,
      filler: graft.expr.ClassExpr = graft.expr.Top): Seq[graft.expr.ClassExpr] =
    mostGeneralObjectProperties(domain, inverse = true).map(graft.expr.ForAllInverse(_, filler))

  /** concept_len (reference knowledge_base.py:512-524) */
  def conceptLen(ce: graft.expr.ClassExpr): Int = graft.expr.ClassExpr.length(ce)

  /** ignore_and_copy (reference knowledge_base.py:450-510): a view of the KB
    * with the given classes / properties removed everywhere. */
  def ignoring(ignoredClasses: Set[String] = Set.empty,
               ignoredProps: Set[String] = Set.empty): Kb = {
    val t = if (ignoredClasses.isEmpty) types
            else types.filter(!col("cls").isInCollection(ignoredClasses))
    val e = if (ignoredProps.isEmpty) edges
            else edges.filter(!col("pred").isInCollection(ignoredProps))
    val a = if (ignoredProps.isEmpty) attrs
            else attrs.filter(!col("prop").isInCollection(ignoredProps))
    copy(edges = e, attrs = a, types = t, tbox = tbox.copy(
      classes = tbox.classes.filterNot(ignoredClasses),
      subClass = tbox.subClass.filterNot { case (s, p) => ignoredClasses(s) || ignoredClasses(p) },
      props = tbox.props.filterNot(p => ignoredProps(p.prop))))
  }

  /** Restrict the KB to a set of surviving nodes: removing a node removes
    * all of its incident assertions — edges require BOTH endpoints to
    * survive (reference _base.py:178-180; SURVEY §7.3 #5). `keep` must have
    * a single column named `id`.
    *
    * Three forms of one restriction, picked by the broadcast envelope.
    * When `keep` fits ([[Pin.collectIfFits]]), its ids are collected once
    * (eagerly) and the four tables are IN-set filtered — a probe of a
    * driver-sized hash set needs no exchange, and the set rides in the
    * task binary. Above the envelope `keep` is distinct'ed and
    * semi-joined. A cached KB ([[cache]]: a KB its user reads again, such
    * as a sampling user drawing many samples from it) whose four tables
    * fit the envelope together also keeps them on the driver
    * ([[imageIfFits]], [[KbImage]]), from its first restriction on, and
    * filters their rows there into four local relations whenever the
    * sample ids are on the driver: the IN-set form's rows in its order,
    * with no job. An uncached KB never builds the image, so a one-shot
    * sample of it runs the IN-set form's jobs and no more. */
  def restrictedTo(keep: DataFrame): Kb = {
    val id = keep.select(col("id"))
    val ids = Pin.collectIfFits(id).map(_.map(_.get(0)))
    (ids, ids.flatMap(_ => imageIfFits)) match {
      case (Some(v), Some(img)) =>
        val Seq(n, e, a, t) = img.restrictedTo(spark, v.iterator)
        Kb(n, e, a, t, tbox)
      case _ =>
        // rows of `df` whose column `c` is a kept id
        val kept: (DataFrame, String) => DataFrame = ids match {
          case Some(v) =>
            val set = v.distinct.toSeq
            (df, c) => df.filter(col(c).isInCollection(set))
          case None =>
            val k = id.distinct()
            (df, c) => df.join(k.withColumnRenamed("id", c), Seq(c), "left_semi")
        }
        Kb(
          nodes = kept(nodes, "id"),
          edges = kept(kept(edges, "src"), "dst").select(col("src"), col("pred"), col("dst")),
          attrs = kept(attrs, "node"),
          types = kept(types, "node"),
          tbox = tbox)
    }
  }

  /** the optimizer's estimate of the four tables an image holds, summed
    * once per instance; None when they cannot be imaged */
  @transient private[graft] lazy val imageBytes: Option[BigInt] =
    KbImage.tables(this).map(_.map(t => GraftPin.estimate(t)._1).sum)
  @transient @volatile private var image: KbImage = _

  /** This KB's driver image when every table is cached or local (what
    * [[cache]] leaves) and the optimizer estimates the four together
    * within the envelope now: built by one collect per table on first
    * use, then held until [[unpersist]] — across every sample drawn from
    * the instance. None, with no job, otherwise. The bound is the
    * estimate, not the bytes the image holds. */
  private[graft] def imageIfFits: Option[KbImage] =
    if (!Seq(nodes, edges, attrs, types).forall(Kb.isCached) ||
        !imageBytes.exists(_ <= GraftPin.threshold(spark))) None
    else synchronized {
      if (image == null) image = KbImage(this)
      Some(image)
    }

  /** whether [[imageIfFits]] has built the image */
  private[graft] def imageBuilt: Boolean = image != null

  /** Drop data-property declarations with no remaining assertion
    * (reference _base.py:278-291). Local attributes (a restriction's
    * image form) are read on the driver with no job; otherwise one job:
    * each partition emits its set of props and the driver unions them —
    * bounded by partitions × |dataProps|, driver-scale. */
  def pruneUnusedDataProps(): Kb = {
    val props = attrs.select(col("prop"))
    val used =
      if (attrs.isLocal) props.collect().map(_.getString(0)).toSet
      else props.mapPartitions((it: Iterator[Row]) => it.map(_.getString(0)).toSet.iterator)(Encoders.STRING)
        .collect().toSet
    copy(tbox = tbox.copy(props = tbox.props.filter(p => p.kind != "data" || used(p.prop))))
  }

  /** Cache the four tables; a local relation already lives on the driver
    * and is left as it is (caching it would only add a job per table). */
  def cache(): Kb = Kb(Kb.cached(nodes), Kb.cached(edges), Kb.cached(attrs), Kb.cached(types), tbox)

  /** Unpersist the four tables and drop the driver image. */
  def unpersist(): Unit = {
    Seq(nodes, edges, attrs, types).filterNot(_.isLocal).foreach(_.unpersist())
    synchronized { image = null }
  }
}

object Kb {
  private def cached(df: DataFrame): DataFrame = if (df.isLocal) df else df.cache()
  private def isCached(df: DataFrame): Boolean = df.isLocal || df.storageLevel != StorageLevel.NONE

  /** Empty KB bound to a session (unit-test convenience). */
  def empty(spark: SparkSession): Kb = {
    def df(s: org.apache.spark.sql.types.StructType) =
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
    Kb(df(Schemas.nodes), df(Schemas.edges), df(Schemas.attrs), df(Schemas.types), Tbox.empty)
  }
}
