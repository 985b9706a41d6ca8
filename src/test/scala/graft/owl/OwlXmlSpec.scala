package graft.owl

import graft.SparkSpec
import graft.core.{ParquetTableIO, Tbox}
import graft.fixtures.FamilyKb

/** save/load roundtrip parity (reference tests/test_sampling.py:192-204:
  * signature equality after serialize + reload) for both persistence
  * paths: the fixture-scale .owl writer/reader and the TableIO parquet
  * tables. */
class OwlXmlSpec extends SparkSpec {

  test("owl xml roundtrip preserves the full signature") {
    val kb = FamilyKb.kb(spark)
    val sampled = new graft.sample.RandomNodeSampler(kb, seed = 3).sample(10)
    val path = java.nio.file.Files.createTempDirectory("owl_").toString + "/sample.owl"
    OwlXml.write(sampled, path)
    val back = OwlXml.read(spark, path)
    assert(ids(back.nodes) === ids(sampled.nodes))
    assert(back.tbox.classes.toSet === sampled.tbox.classes.toSet)
    assert(back.tbox.objectProps.map(_.prop).toSet === sampled.tbox.objectProps.map(_.prop).toSet)
    assert(back.tbox.dataProps.map(_.prop).toSet === sampled.tbox.dataProps.map(_.prop).toSet)
    assert(back.edges.collect().toSet === sampled.edges.collect().toSet)
    assert(back.attrs.collect().toSet === sampled.attrs.collect().toSet)
    assert(back.types.collect().toSet === sampled.types.collect().toSet)
  }

  test("reads the reference's real father.owl (OWL-API RDF/XML)") {
    val kb = OwlXml.read(spark, "/root/reference/KGs/father.owl")
    assert(ids(kb.nodes) === Set("anna", "heinz", "markus", "martin", "michelle", "stefan"))
    assert(kb.tbox.classes.toSet === Set("female", "male", "person"))
    assert(kb.tbox.objectProps.map(_.prop) === Seq("hasChild"))
    assert(kb.tbox.objectProps.head.domain === "person")
    assert(kb.tbox.subClass.toSet === Set(
      "female" -> "person", "male" -> "person", "person" -> "Thing"))
    assert(kb.tbox.equivClass === Seq("male" -> "not:female"))
    val edges = kb.edges.collect().map(r => (r.getString(0), r.getString(2))).toSet
    assert(edges === Set(("anna", "heinz"), ("markus", "anna"),
      ("martin", "heinz"), ("stefan", "markus")))
    // golden triples (FIXTURES F2 style): 6 rdf:type + 4 edges ABox rows
    assert(kb.aboxTriples.count() === 10)
    // a sampler runs directly on the loaded KB (reference usage pattern)
    val s = new graft.sample.RandomNodeSampler(kb, seed = 1).sample(3)
    assert(s.nodes.count() === 3)
    // class expressions evaluate: males with a child
    assert(ids(graft.expr.Eval(kb,
      graft.expr.And(Seq(graft.expr.Named("male"),
        graft.expr.Exists("hasChild", graft.expr.Top))))) ===
      Set("markus", "martin", "stefan"))
  }

  test("writer emits standard OWL property elements; father.owl write-read equality") {
    val kb = OwlXml.read(spark, "/root/reference/KGs/father.owl")
    val path = java.nio.file.Files.createTempDirectory("owl_std_").toString + "/father_out.owl"
    OwlXml.write(kb, path)
    val xml = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    // standard striped RDF/XML: property NAME is the element, object via
    // rdf:resource — no private g:op/g:dp vocabulary
    assert(xml.contains("<hasChild rdf:resource="))
    assert(!xml.contains("g:op") && !xml.contains("g:dp"))
    val back = OwlXml.read(spark, path)
    assert(ids(back.nodes) === ids(kb.nodes))
    assert(back.edges.collect().toSet === kb.edges.collect().toSet)
    assert(back.types.collect().toSet === kb.types.collect().toSet)
    assert(back.tbox.classes.toSet === kb.tbox.classes.toSet)
    // full TBox parity: equivalence (incl. the ¬female complement form),
    // subclass links, property domains/ranges all survive the roundtrip
    assert(back.tbox.equivClass.toSet === kb.tbox.equivClass.toSet)
    assert(back.tbox.subClass.toSet === kb.tbox.subClass.toSet)
    assert(back.tbox.props.toSet === kb.tbox.props.toSet)
  }

  test("writer serializes data properties with rdf:datatype; roundtrip keeps dtype") {
    val kb = FamilyKb.kb(spark)
    val path = java.nio.file.Files.createTempDirectory("owl_dp_").toString + "/family.owl"
    OwlXml.write(kb, path)
    val xml = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    assert(xml.contains("rdf:datatype=\"http://www.w3.org/2001/XMLSchema#int\""))
    val back = OwlXml.read(spark, path)
    assert(back.attrs.collect().toSet === kb.attrs.collect().toSet)
    // dp range declarations roundtrip as xsd:-prefixed dtypes
    assert(back.tbox.props.toSet === kb.tbox.props.toSet)
  }

  test("save_sample filename quirk parity (_base.py:209-216)") {
    assert(OwlXml.sampleFileName("/x/family.owl", 20, Some("out")) === "out.owl")
    assert(OwlXml.sampleFileName("/x/family.owl", 20, Some("out.owl")) === "out.owl")
    assert(OwlXml.sampleFileName("/x/family.owl", 20, None) === "family_sample_20.owl")
  }

  test("TableIO: salted partitioned kb roundtrip") {
    val kb = FamilyKb.kb(spark)
    val io = new ParquetTableIO(spark, java.nio.file.Files.createTempDirectory("tio_").toString)
    io.writeKb(kb, "family")
    val back = io.readKb("family", kb.tbox)
    assert(ids(back.nodes) === ids(kb.nodes))
    assert(back.edges.collect().toSet === kb.edges.collect().toSet)
    // salt column exists on disk for downstream skew handling
    assert(io.read("family/edges").columns.contains("salt"))
  }

  test("save_owl_class_expressions: indexed equivalentClass axioms, .owl appended") {
    import graft.expr._
    val dir = java.nio.file.Files.createTempDirectory("predictions_").toString
    val base = s"$dir/Predictions"
    OwlXml.writeClassExpressions(Seq(
      Named("male"),
      And(Seq(Named("person"), Exists("hasChild", Named("female")))),
      graft.expr.MinCard(2, "hasChild", Top)), base)
    val xml = scala.xml.XML.loadFile(base + ".owl") // reference appends .owl
    val rdfNs = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    def about(c: scala.xml.Node) = (c \ s"@{$rdfNs}about").text
    val classes = (xml \ "Class").filter(c =>
      about(c).startsWith("https://dice-research.org/predictions#"))
    assert(classes.map(about).toSeq ===
      (0 to 2).map(i => s"https://dice-research.org/predictions#$i"))
    assert(classes.forall(c => (c \ "equivalentClass").nonEmpty))
    assert((xml \\ "intersectionOf").nonEmpty)
    assert((xml \\ "someValuesFrom").nonEmpty)
    assert((xml \\ "minQualifiedCardinality").map(_.text) === Seq("2"))
    intercept[NotImplementedError] {
      OwlXml.writeClassExpressions(Seq(Named("x")), base, rdfFormat = "turtle")
    }
  }

  test("save_owl_class_expressions renders the data dialect as OWL 2 facets") {
    import graft.expr._
    val dir = java.nio.file.Files.createTempDirectory("predictions_data_").toString
    val base = s"$dir/DataPredictions"
    OwlXml.writeClassExpressions(Seq(
      DataCompare("acctbal", ">=", 5000.0),
      DataForAll("psize", "<=", 25.0),
      DataBoolHasValue("urgent", value = true),
      DataTimeCompare("orderdate", "<", "1993-01-01")), base)
    val xml = scala.xml.XML.loadFile(base + ".owl")
    val rdfNs = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    // ∃acctbal.(≥ 5000.0): someValuesFrom a DatatypeRestriction with a
    // minInclusive facet on xsd:double
    val facets = xml \\ "withRestrictions"
    assert(facets.size === 3) // two compares + the ∀ range (hasValue has none)
    assert((xml \\ "minInclusive").map(_.text) === Seq("5000.0"))
    assert((xml \\ "maxInclusive").map(_.text) === Seq("25.0"))
    assert((xml \\ "maxExclusive").map(_.text) === Seq("1993-01-01"))
    val onDt = (xml \\ "onDatatype")
      .map(n => (n \ s"@{$rdfNs}resource").text).toSet
    assert(onDt === Set("http://www.w3.org/2001/XMLSchema#double",
      "http://www.w3.org/2001/XMLSchema#date"))
    // boolean hasValue is a typed literal, no facet
    val hv = (xml \\ "hasValue").filter(n => (n \ s"@{$rdfNs}datatype").text.endsWith("boolean"))
    assert(hv.map(_.text) === Seq("true"))
    // ∀ goes through allValuesFrom
    assert((xml \\ "allValuesFrom").nonEmpty)
  }

  test("time facets pick their datatype from the lexical form") {
    import graft.expr._
    val dir = java.nio.file.Files.createTempDirectory("predictions_time_").toString
    val base = s"$dir/TimeFacets"
    OwlXml.writeClassExpressions(Seq(
      DataTimeCompare("a", ">=", "2021-05-01 10:00:00"), // space-separated dateTime
      DataTimeCompare("b", "<", "2021-05-01T10:00"),     // T-separated dateTime
      DataTimeCompare("c", "<=", "10:05:00"),            // time of day
      DataTimeCompare("d", ">", "2021-05-01")), base)    // plain date
    val xml = scala.xml.XML.loadFile(base + ".owl")
    val rdfNs = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    val onDt = (xml \\ "onDatatype").map(n => (n \ s"@{$rdfNs}resource").text)
    assert(onDt.count(_.endsWith("#dateTime")) === 2, s"dateTime facets in $onDt")
    assert(onDt.count(_.endsWith("#time")) === 1)
    assert(onDt.count(_.endsWith("#date")) === 1)
    // the space-separated form normalizes to the xsd 'T' separator
    assert((xml \\ "minInclusive").map(_.text) === Seq("2021-05-01T10:00:00"),
      "lexical must be a VALID xsd:dateTime literal, not the space form")
  }

  test("sampler registry resolves all 20 reference names") {
    val kb = FamilyKb.kb(spark)
    graft.sample.Samplers.allNames.foreach { n =>
      val s = graft.sample.Samplers.byName(n, kb, lp = Seq("m1", "f1"))
      assert(s != null, n)
    }
    assert(graft.sample.Samplers.allNames.size === 20)
    intercept[IllegalArgumentException] {
      graft.sample.Samplers.byName("NoSuchSampler", kb)
    }
  }
}
