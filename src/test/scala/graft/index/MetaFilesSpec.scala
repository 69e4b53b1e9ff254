package graft.index

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The index's metadata files (`_snapshots/vNNNNNN.json`, `_schema.json`,
  * `_checkpoints/wave_N.json`): files written before they shared the
  * [[MetaFiles]] codec still read, their values are rewritten byte for byte,
  * any name round-trips, and a broken file fails naming itself.
  */
class MetaFilesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def put(path: String, body: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), body.getBytes(UTF_8))
  }
  private def bytes(path: String) = new String(Files.readAllBytes(Paths.get(path)), UTF_8)
  private def tmp(name: String) = Files.createTempDirectory(s"graft-meta-$name").toString

  // Bytes the hand-rolled writers produced for these values.
  private val schemaFiles = Seq(
    IndexSchema.pages -> (
      """{"key_field":"url","fields":[{"name":"text","analyzer":"summa","record":"position","type":"text"},""" +
      """{"name":"lang","analyzer":"raw","record":"basic","type":"text"}],""" +
      """"default_fields":["text"],"stored_fields":["warc_ts","lang"]}"""),
    IndexSchema.documents -> (
      """{"key_field":"doc_id","fields":[{"name":"text","analyzer":"summa","record":"position","type":"text"},""" +
      """{"name":"lang","analyzer":"raw","record":"basic","type":"text"},""" +
      """{"name":"source","analyzer":"raw","record":"basic","type":"text"}],""" +
      """"default_fields":["text"],"stored_fields":["lang","source","n_chars"]}"""),
    IndexSchema.documentsJson -> (
      """{"key_field":"doc_id","fields":[{"name":"text","analyzer":"summa","record":"position","type":"text"},""" +
      """{"name":"metadata","analyzer":"summa","record":"position","type":"json"}],""" +
      """"default_fields":["text"],"stored_fields":[]}"""))

  private val snapshotFiles = Seq(
    Snapshot(1, Seq(0, 2, 3), "build-1", 1792513111897L, Set(0, 2)) ->
      """{"version":1,"segments":[0,2,3],"frozen":[0,2],"build_id":"build-1","created_at":1792513111897}""",
    Snapshot(4, Seq(1, 5), "old", 1700000000000L) ->
      """{"version":4,"segments":[1,5],"frozen":[],"build_id":"old","created_at":1700000000000}""")

  test("files written by the hand-rolled codecs read back, and their values rewrite byte for byte") {
    for ((schema, json) <- schemaFiles) {
      assert(IndexSchema.toJson(schema) == json)
      assert(IndexSchema.fromJson(json) == schema)
      val dir = tmp("schema")
      put(s"$dir/_schema.json", json)
      assert(IndexSchema.load(spark, dir).contains(schema))
      IndexSchema.write(spark, dir, schema)
      assert(bytes(s"$dir/_schema.json") == json)
    }
    // a tab was written raw, and read back
    val tabbed = IndexSchema("a\tb", Seq(FieldDef("a\tb")), Seq("a\tb"))
    assert(IndexSchema.fromJson("{\"key_field\":\"a\tb\",\"fields\":[{\"name\":\"a\tb\",\"analyzer\":\"summa\"," +
      "\"record\":\"position\",\"type\":\"text\"}],\"default_fields\":[\"a\tb\"],\"stored_fields\":[]}") == tabbed)

    for ((snap, json) <- snapshotFiles) {
      assert(MetaFiles.mapper.writeValueAsString(Snapshots.render(snap)) == json)
      val dir = tmp("snap")
      put(s"$dir/_snapshots/v${"%06d".format(snap.version)}.json", json)
      assert(Snapshots.latest(spark, dir).contains(snap))
      assert(Snapshots.at(spark, dir, snap.version) == snap)
    }
    // a snapshot from before segments could be frozen has no `frozen` key
    val preFrozen = tmp("prefrozen")
    put(s"$preFrozen/_snapshots/v000004.json",
      """{"version":4,"segments":[1,5],"build_id":"old","created_at":1700000000000}""")
    assert(Snapshots.latest(spark, preFrozen).contains(snapshotFiles(1)._1))

    val ck = tmp("ckpt")
    for ((wave, segs, json) <- Seq((0, Seq(0), """{"wave":0,"segments":[0]}"""),
        (1, Seq(3, 4), """{"wave":1,"segments":[3,4]}"""), (2, Nil, """{"wave":2,"segments":[]}"""))) {
      ResumableBuild.writeCheckpoint(spark, ck, wave, segs)
      assert(bytes(s"$ck/_checkpoints/wave_$wave.json") == json)
      put(s"$ck/_checkpoints/wave_$wave.json", json)
      assert(ResumableBuild.waveCheckpoint(spark, ck, wave).contains(segs))
    }
    assert(ResumableBuild.waveCheckpoint(spark, ck, 3).isEmpty)
  }

  test("any name round-trips through _schema.json, any build id through a snapshot") {
    val kelvin = "\u212A"
    val names = Seq("a\"b", "a\\b", "a}b", "a]b", "a\nb", "a\tb", "été😀", kelvin, "{\"x\":[1]}\\")
    for (n <- names) {
      val schema = IndexSchema(n, Seq(FieldDef(n, n, n, n), FieldDef("text")), Seq(n, "text"), Seq(n))
      val dir = tmp("rt")
      IndexSchema.write(spark, dir, schema)
      assert(IndexSchema.load(spark, dir).contains(schema), s"schema with $n")
      assert(IndexSchema.fromJson(IndexSchema.toJson(schema)) == schema)
    }
    val dir = tmp("buildid")
    for (id <- Seq("a\"b", "a\\b", "\"\\", "été😀\n")) {
      val committed = Snapshots.commit(spark, dir, Seq(2, 1), id, freeze = Set(1))
      assert(Snapshots.latest(spark, dir).contains(committed))
      assert(committed.buildId == id && committed.segments == Seq(1, 2) && committed.frozen == Set(1))
    }
  }

  test("a truncated metadata file, or one missing a key, fails naming the file") {
    val dir = tmp("bad")
    def fails(path: String, body: String)(read: => Any): Unit = {
      put(path, body)
      val e = intercept[IllegalStateException](read)
      assert(e.getMessage.contains(path), e.getMessage)
    }
    val schema = s"$dir/_schema.json"
    val json = schemaFiles.head._2
    fails(schema, json.dropRight(20))(IndexSchema.load(spark, dir))
    fails(schema, json.replace("\"key_field\"", "\"key\""))(IndexSchema.load(spark, dir))
    fails(schema, json.replace("\"analyzer\"", "\"an\""))(IndexSchema.load(spark, dir))
    fails(schema, "")(IndexSchema.load(spark, dir))

    val snap = s"$dir/_snapshots/v000001.json"
    val snapJson = snapshotFiles.head._2
    fails(snap, snapJson.dropRight(10))(Snapshots.latest(spark, dir))
    fails(snap, snapJson.replace("\"created_at\"", "\"created\""))(Snapshots.at(spark, dir, 1))
    fails(snap, snapJson.replace("\"segments\"", "\"segs\""))(Snapshots.latest(spark, dir))

    val ck = s"$dir/_checkpoints/wave_0.json"
    fails(ck, """{"wave":0,"segments":[0,""")(ResumableBuild.waveCheckpoint(spark, dir, 0))
    fails(ck, """{"wave":0}""")(ResumableBuild.waveCheckpoint(spark, dir, 0))
  }
}
