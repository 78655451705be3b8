package graft.formats

import graft.SparkSpec
import graft.registry.{AvroSchemaConverter, Compatibility, IncompatibleSchemaException, SchemaInference, SchemaRegistry}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class AvroCodecSpec extends SparkSpec {
  import spark.implicits._

  private val v1Json =
    """{"type":"record","name":"user","namespace":"graft.test","fields":[
      |{"name":"id","type":"long"},
      |{"name":"name","type":"string"}]}""".stripMargin
  private val v2Json =
    """{"type":"record","name":"user","namespace":"graft.test","fields":[
      |{"name":"id","type":"long"},
      |{"name":"name","type":"string"},
      |{"name":"score","type":["null","double"],"default":null}]}""".stripMargin
  private val incompatibleJson =
    """{"type":"record","name":"user","namespace":"graft.test","fields":[
      |{"name":"id","type":"long"},
      |{"name":"name","type":"string"},
      |{"name":"mandatory","type":"string"}]}""".stripMargin

  test("registry: register/versions/latest/getById; idempotent re-register") {
    val reg = new SchemaRegistry
    val r1 = reg.register("user-value", v1Json)
    assert(r1.version == 1)
    assert(reg.register("user-value", v1Json).id == r1.id) // idempotent
    val r2 = reg.register("user-value", v2Json)
    assert(r2.version == 2 && r2.id != r1.id)
    assert(reg.subjects == Seq("user-value"))
    assert(reg.versions("user-value") == Seq(1, 2))
    assert(reg.latest("user-value").get.version == 2)
    assert(reg.getById(r1.id).get.schemaJson == r1.schemaJson)
  }

  test("registry: BACKWARD compatibility gate accepts defaulted, rejects mandatory field") {
    val reg = new SchemaRegistry
    reg.register("user-value", v1Json)
    assert(reg.compatibilityLevel == Compatibility.Backward)
    assert(reg.checkCompatibility("user-value", v2Json))
    assert(!reg.checkCompatibility("user-value", incompatibleJson))
    intercept[IncompatibleSchemaException] {
      reg.register("user-value", incompatibleJson)
    }
    // NONE level lets anything through
    reg.setCompatibilityLevel("user-value", Compatibility.None)
    assert(reg.checkCompatibility("user-value", incompatibleJson))
  }

  test("registry: FORWARD and FULL levels enforce the write direction too") {
    // FORWARD: old schema (reader) must read data written with the
    // candidate — dropping a field the old reader requires is rejected.
    val dropped =
      """{"type":"record","name":"user","namespace":"graft.test","fields":[
        |{"name":"id","type":"long"}]}""".stripMargin
    val fwd = new SchemaRegistry
    fwd.setCompatibilityLevel(Compatibility.Forward)
    fwd.register("user-value", v1Json)
    assert(!fwd.checkCompatibility("user-value", dropped),
      "FORWARD must reject dropping a required field")
    assert(fwd.checkCompatibility("user-value", v2Json),
      "FORWARD accepts adding a defaulted field (old reader skips it)")

    // FULL: both directions — dropping a required field fails (forward),
    // adding a mandatory field fails (backward); defaulted add passes.
    val full = new SchemaRegistry
    full.setCompatibilityLevel(Compatibility.Full)
    full.register("user-value", v1Json)
    assert(!full.checkCompatibility("user-value", dropped))
    assert(!full.checkCompatibility("user-value", incompatibleJson))
    assert(full.checkCompatibility("user-value", v2Json))
  }

  test("registry: save/load round-trip preserves interleaved ids and levels verbatim") {
    val other =
      """{"type":"record","name":"evt","namespace":"graft.test","fields":[
        |{"name":"k","type":"string"}]}""".stripMargin
    val reg = new SchemaRegistry
    reg.setCompatibilityLevel(Compatibility.Forward)
    reg.setCompatibilityLevel("evt-value", Compatibility.None)
    // INTERLEAVED multi-subject registration: a load that replays
    // register() in subject-grouped order would reassign these ids
    // (user=1,3 evt=2 -> user=1,2 evt=3) and silently dispatch existing
    // wire frames to the wrong writer schema.
    val id1 = reg.register("user-value", v1Json).id
    val id2 = reg.register("evt-value", other).id
    val id3 = reg.register("user-value", v2Json).id
    val f = java.io.File.createTempFile("registry", ".tsv")
    reg.save(f.getPath)
    val loaded = SchemaRegistry.load(f.getPath)
    assert(loaded.versions("user-value") == Seq(1, 2))
    assert(loaded.latest("user-value").get.schema == reg.latest("user-value").get.schema)
    assert(Seq(id1, id2, id3).map(loaded.getById(_).map(_.subject)) ==
      Seq(Some("user-value"), Some("evt-value"), Some("user-value")),
      "global ids must survive the round-trip exactly")
    assert(loaded.getById(id3).get.version == 2)
    assert(loaded.compatibilityLevel == Compatibility.Forward)
    assert(loaded.compatibilityLevel("evt-value") == Compatibility.None)
    assert(loaded.compatibilityLevel("user-value") == Compatibility.Forward)
    // a fresh registration on the reloaded registry continues the id space
    val v3Json =
      """{"type":"record","name":"user","namespace":"graft.test","fields":[
        |{"name":"id","type":"long"},{"name":"name","type":"string"},
        |{"name":"age","type":["null","int"],"default":null},
        |{"name":"note","type":["null","string"],"default":null}]}""".stripMargin
    assert(loaded.register("user-value", v3Json).id == Seq(id1, id2, id3).max + 1)
    // saved under NONE for evt: reload must not re-gate under the default
    // BACKWARD (the round-2 failure mode); an incompatible evt history
    // must survive. Build one: NONE allows a breaking change.
    val breaking =
      """{"type":"record","name":"evt","namespace":"graft.test","fields":[
        |{"name":"k","type":"long"}]}""".stripMargin
    reg.register("evt-value", breaking)
    reg.save(f.getPath)
    val reloaded = SchemaRegistry.load(f.getPath)
    assert(reloaded.versions("evt-value") == Seq(1, 2),
      "incompatible history registered under NONE must reload without re-gating")
  }

  test("schemaless JSON: distributed inference registers a subject that types nested data") {
    val df = Seq(
      """{"id": 1, "name": "a", "tags": ["x","y"], "geo": {"lat": 1.5, "lon": 2.5}}""",
      """{"id": 2, "name": null, "tags": [], "geo": {"lat": 0.0, "lon": 0.1}, "extra": 7}"""
    ).toDF("js")
    val reg = new SchemaRegistry
    val r = SchemaInference.registerJsonSubject(reg, "js-value", "js_value", df, "js")
    val st = AvroSchemaConverter.toStructType(r.schema)
    val byName = st.fields.map(f => f.name -> f.dataType).toMap
    assert(byName("id") == LongType && byName("extra") == LongType)
    assert(byName("name") == StringType)
    assert(byName("tags") == ArrayType(StringType, containsNull = true))
    assert(byName("geo").isInstanceOf[StructType])
    // the registered schema really parses the data typed (missing fields null)
    val rows = df.select(from_json(col("js"), st).as("p"))
      .select(col("p.id"), col("p.geo.lat"), col("p.extra"))
      .collect().map(r0 => (r0.getLong(0), r0.getDouble(1),
        if (r0.isNullAt(2)) -1L else r0.getLong(2))).sortBy(_._1).toSeq
    assert(rows == Seq((1L, 1.5, -1L), (2L, 0.0, 7L)))
    // and it is a normal subject: gated, versioned, id-dispatched
    assert(reg.versions("js-value") == Seq(1))
    assert(reg.getById(r.id).get.subject == "js-value")
  }

  test("wire codec: a frame with an unregistered schema id fails with the id named") {
    val reg = new SchemaRegistry
    val r1 = reg.register("user-value", v1Json)
    val encoded = Seq((1L, "alice")).toDF("id", "name")
      .select(AvroFunctions.toAvroWire(struct(col("id"), col("name")), r1).as("payload"))
    // decode against a registry snapshot that does NOT contain r1's id
    val empty = new SchemaRegistry
    empty.register("other-value", v2Json)
    val e = intercept[Exception] {
      encoded.select(graft.formats.AvroFunctions
        .fromAvroWire(col("payload"), Map(999 -> v2Json), v2Json)).collect()
    }
    val messages = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(messages.contains(s"schema id ${r1.id}"),
      s"error must name the missing id: $messages")
  }

  test("registry: re-registering an identical schema after reload is idempotent") {
    val reg = new SchemaRegistry
    val r1 = reg.register("user-value", v1Json)
    val f = java.io.File.createTempFile("registry-idem", ".tsv")
    reg.save(f.getPath)
    val loaded = SchemaRegistry.load(f.getPath)
    val again = loaded.register("user-value", v1Json)
    assert(again.id == r1.id && again.version == r1.version,
      "identical schema must resolve to the restored registration, not a new version")
    assert(loaded.versions("user-value") == Seq(1))
  }

  test("registry diff: field-level drift report — added/removed/type/default, nested paths") {
    val reg = new SchemaRegistry
    val prior = """{"type":"record","name":"r","fields":[
      {"name":"id","type":"long"},
      {"name":"gone","type":"string"},
      {"name":"retyped","type":"int"},
      {"name":"defaulted","type":"string","default":"a"},
      {"name":"nest","type":{"type":"record","name":"n","fields":[
        {"name":"keep","type":"long"},{"name":"inner_gone","type":"int"}]}}]}"""
    val cand = """{"type":"record","name":"r","fields":[
      {"name":"id","type":"long"},
      {"name":"fresh","type":"double"},
      {"name":"retyped","type":"string"},
      {"name":"defaulted","type":"string","default":"b"},
      {"name":"nest","type":{"type":"record","name":"n","fields":[
        {"name":"keep","type":"long"},{"name":"inner_fresh","type":"string"}]}}]}"""
    reg.register("drift-value", prior)
    val d = reg.diff("drift-value", cand).map(f => f.path -> f.change).toSet
    assert(d == Set(
      "fresh" -> "added", "gone" -> "removed", "retyped" -> "type_changed",
      "defaulted" -> "default_changed",
      "nest.inner_fresh" -> "added", "nest.inner_gone" -> "removed"), s"got $d")
    // identical candidate: no drift; unregistered subject: everything added
    assert(reg.diff("drift-value", prior).isEmpty)
    assert(reg.diff("never-registered", cand).forall(_.change == "added"))
    // the before/after renderings carry the types for the retyped field
    val rt = reg.diff("drift-value", cand).find(_.path == "retyped").get
    assert(rt.before.get.contains("int") && rt.after.get.contains("string"))
  }

  test("avro schema converter: struct -> avro -> struct round-trip") {
    val st = StructType(Seq(
      StructField("a", LongType, nullable = false),
      StructField("b", StringType, nullable = true),
      StructField("c", ArrayType(DoubleType, containsNull = false), nullable = false),
      StructField("d", StructType(Seq(StructField("x", IntegerType, nullable = true))), nullable = true)))
    val avro = AvroSchemaConverter.toAvroSchema(st)
    val back = AvroSchemaConverter.toStructType(avro)
    assert(back == st)
  }

  test("wire codec: encode/decode round-trip through DataFrame") {
    val reg = new SchemaRegistry
    val r1 = reg.register("user-value", v1Json)
    val df = Seq((1L, "alice"), (2L, "bob"), (3L, "carol")).toDF("id", "name")
    val encoded = df.select(
      AvroFunctions.toAvroWire(struct(col("id"), col("name")), r1).as("payload"))
    val decoded = encoded.select(
      AvroFunctions.fromAvroRegistry(col("payload"), reg, "user-value").as("rec"))
      .select("rec.id", "rec.name")
    assert(decoded.as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "alice"), (2L, "bob"), (3L, "carol")))
  }

  test("wire codec: encoded frames are byte-equal to AvroWire.frame over a fresh Avro body, nulls included") {
    val reg = new SchemaRegistry
    val r2 = reg.register("user-value", v2Json)
    val rows = Seq((1L, "a-rather-long-name-first", Some(0.5)), (2L, "bo", None),
      (3L, "null struct", None), (4L, "", Some(-1.25)))
    val encoded = rows.toDF("id", "name", "score")
      .select(col("id"), AvroFunctions.toAvroWire(
        when(col("id") =!= 3L, struct(col("id"), col("name"), col("score"))), r2).as("payload"))
      .orderBy("id").collect().map(r => Option(r.getAs[Array[Byte]](1)).map(_.toSeq)).toSeq

    val schema = new org.apache.avro.Schema.Parser().parse(v2Json)
    val expected = rows.map { case (id, name, score) =>
      if (id == 3L) None
      else {
        val rec = new org.apache.avro.generic.GenericData.Record(schema)
        rec.put("id", id); rec.put("name", name); rec.put("score", score.map(Double.box).orNull)
        val bos = new java.io.ByteArrayOutputStream()
        val enc = org.apache.avro.io.EncoderFactory.get().directBinaryEncoder(bos, null)
        new org.apache.avro.generic.GenericDatumWriter[AnyRef](schema).write(rec, enc)
        enc.flush()
        Some(AvroWire.frame(r2.id, bos.toByteArray).toSeq)
      }
    }
    assert(encoded == expected)
  }

  test("wire codec: per-record schema-id dispatch decodes mixed v1+v2 with v2 reader") {
    val reg = new SchemaRegistry
    val r1 = reg.register("user-value", v1Json)
    val r2 = reg.register("user-value", v2Json)
    val oldRows = Seq((1L, "alice")).toDF("id", "name")
      .select(AvroFunctions.toAvroWire(struct(col("id"), col("name")), r1).as("payload"))
    val newRows = Seq((2L, "bob", 0.9)).toDF("id", "name", "score")
      .select(AvroFunctions.toAvroWire(
        struct(col("id"), col("name"), col("score")), r2).as("payload"))
    val decoded = oldRows.unionByName(newRows)
      .select(AvroFunctions.fromAvroRegistry(col("payload"), reg, "user-value").as("rec"))
      .select("rec.id", "rec.name", "rec.score")
      .orderBy("id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    // v1 record surfaces with the v2 reader's defaulted score = null
    assert(decoded.toSeq == Seq((1L, "alice", None), (2L, "bob", Some(0.9))))
  }
}
