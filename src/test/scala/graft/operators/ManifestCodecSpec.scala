package graft.operators

import org.apache.hadoop.fs.Path

import graft.SparkTestBase
import graft.operators.TableFormat.Manifest

/** The manifest header codec: `Manifest.parse` reads every header of a
  * manifest written before the codec existed, and `render` writes it
  * back byte for byte, so the on-disk format is unchanged and old
  * manifests still read. */
class ManifestCodecSpec extends SparkTestBase {
  import spark.implicits._

  // Two manifests written by the per-header writer the codec replaced,
  // from one table driven through identity, CHECK, RENAME, DROP COLUMN,
  // ANALYZE, an equality delete and streamed (txn) appends. Only the
  // warehouse root of the paths was rewritten to `/wh` (plain and
  // URL-encoded); every other byte is as written. A delta manifest:
  private val goldenDelta = Seq(
      "#schema\t{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable" +
        "\":true,\"metadata\":{\"GRAFT_IDENTITY_STEP\":1,\"GRAFT_IDENTITY_START\":1}},{\"name\":" +
        "\"k\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}},{\"name\":\"amount\",\"type" +
        "\":\"string\",\"nullable\":true,\"metadata\":{}}]}",
      "#stats\tk",
      "#op\tappend",
      "#props\todd+key=a%3Db%26c%2Fd\ttier=gold",
      "#colmap\tamount=v",
      "#tombstones\tjunk",
      "#constraints\tkpos=C%3Ak+%3E%3D+0",
      "#hwm\tid=201",
      "#ndv\tk=CgEHDAAIAAI3XXlTyP54QAAAAMAQ/K1AAAAAAAAAAACBDgAAAAAAAAAAAAAAAAAAAjAAAAAAMAAAAAAA" +
        "AAAAAAEAAAAAAAAQAAAwAAAAAAAAAAIAAAAAAAAgAAAAAyAAAAAQAAAAAwAAAAAAAQAAAAABAAAAAAAAAwAAAAAA" +
        "EAAAAAAAABAwAAAQAAAAAAAHAAAAAAAAAAAAAAAAAAAAAAAAABAAAAEAAAAAAAAAAAAAEAAAAAAAAAIAAAAAAAAA" +
        "AAAEAAAAAAEAAAAAAAAAAAAAAAAAAAAAAAAAAAAAMAAAABAAAAAAAAIAAAAAAAAAAAAAAAAAAAAAAAABAAAAAAAA" +
        "AAAEAAAAQAFAAAAAARAAAAAAAAAAAAQAABAAMAAAACAAAQAAAAAAAQACFAAAAAAAMABAIAAAAAAAAAAQAAAAAAMA" +
        "AAAAAAAAAAAAAAAAABAAAAAAAAAAIAAAAAAAAEAAABAAAAAAAAAAAAAFAAAAAAAAAAAAAAAQAAAAAAAAAQAAAAAA" +
        "EAAAAAABAAAAAAAAQAAQEAAAAAAAABAAMAAAABAAAAAAAAABAAEAAAAAAAAAEAAAAAAAAAAAAAAAQAMAAAAAAAAA" +
        "AAAAAAAAAAAAEAAAAAAAAAAAAQAAAABAIAAgAAAAIQAAAAAAAAAAEQAAAQAAAAEAACAAAAAFYCAAADAAAQAHcAAA" +
        "AAAAEAAAABAAAAMAAAEAAAAAAAAAAAAAAgAAAAAAAAAAAAAQAAAAABAAAAAAAAAAAwAAAAADAFQAAIAAAAAAAAAA" +
        "AQAAAAAAEAACAAAAAAAAAAEAAAAAAAAAAAABAAAAAAAAACAAEBAAIAAAAAYAAAABAAAAAAAAAAAAAAAEAAAAAAAA" +
        "ABAAACAAEQAAAAAAAABAEAAAAAUABgAAAAAAAAAABAAAAAAAABAAAAAAAAAAAAAAAAACAQAAAAAAAAAAAAAgAAAA" +
        "AAAAAAAAAAAAAAAAABAUAQAAAAAAIAAAAAAAAAAAAEAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAEAAAAAAAAA" +
        "AAQQAAAAEAAEAAAAAAAAAAEAAAAAAAAAAAAAAAAAAAAAAAAAAAIEAAAQEAABAAAAAAAAAAAAAAAQMAAAAAAAAAAA" +
        "AAAAAAAAAAAAABAQAAIAAAAAAAAAAAAQAAAAAAAAAAABAAACAAAAAAAAAAAAAAAAAwAAAAAAAAAAABAAABEAAAUA" +
        "EEAAAAAAAAAAAAACAAAAAAAAAAAAAAAAAAAAAAMAAAAAAAAAAAEAAAAAAAAAAQAgIAAgAAAAAAAAAAABAAAAAAAA" +
        "AAAAAAAAEAAAAAAAAAIAAAAAMAAhEAAAEQABAAAAAAAAAAAAAAAlAQAAAAAAAAAAAAABAAQQAAAAMBAAACAAAAAg" +
        "AAAAAAAQAAABAAAAEAAAADABAAAAAAAAAAAAAAAQAAAAAAABAQAAAAAgAABAAAAAAAAAAAABAAAAAAAAAAAAAAAA" +
        "AAAAAAAAAAEAAAAAAAACAAAAAAAAEAAAAAEAAAAAAQAgAAAAAAEAAAAAMgAAAAAAAAAAAAAAABAAAAUAAAAAAAAA" +
        "EAAAAwAAEAAAAAABAAAAAAAAAAAAAAAAAAADAAAAAAEAAAAAECACEAABAAAAAAAAAAAAAAAAAAAAABBQAAAAAABQ" +
        "ERAAACAAAAAAAAEAAAAQAAAAAAARAAABAAAAAAAAAAAAAAAgABAAARAAAAEAABARAAAAAAAAAAAAABAAAAADAAAA" +
        "MAAAEiAAAAAAAAAAAAAAAAAAAAAAIAAAAAAAAAAQAAABAQAAAAAAAAABAAAAAAAAAAAAAAADAAAABAAAAAAAMAAB" +
        "ACAAAAAAIBAAQAAAAAAAAAAAMAAgEAAAEAAAAAAAAAAAAAAAAAACAAEAMAAABQAAAAADAAADAAAAACAAAAAAAAAA" +
        "BAAAAACAAAAAABAhAAAAAAIAAAEAAAAAAAQAAAAAEAAAAAMAAAAAAAAAAAADAAAAAAAAAAAAAAAAQAAAAAAAEAAA" +
        "AAAAAAAAAAAAAABgAAEQMAAAAAAQAAAABAAAAAYAAAAAAAACAAAAEAAAAQYgAAACAAAAAgAAAAAAAAAAAAAAAAAA" +
        "AAACAAAAEAAAAAABAAAAAAAAAQAAAAAAEBAAAAAAAAABACABAAAABAAAAAAAAAAAAAAAEAAAAAAAAAAAAAAQABAA" +
        "AAABAAAgAAAAAAAAAAAAAAAAAAQAADAAAgAAAABxAAAAAQAAAAQAMAABAAAAAAMAAAAAAAABAAAAAAAAAAAABAEA" +
        "AGAAgAAAAAAAAAAAAAAAAAIAAAAAAAAwAAAAAAAAEAAAAAAAACAAAAIAAAABAAAAAAAAAAABAAAAAAoAAAAwAAAA" +
        "AAAAAAAAAAEAAgAAAAAAAAAAAAAAAAAAABAAAAAAAgAQAAAAAAAAAAEAAAAAAABAAAADAAAAAgAAAAAAAAAAAAAA" +
        "ABCAAAAAAAAgAAAAAAAAAAAAAAAAAAAAAAAQAAAQAAAAAAAAAAAAAAAAAAAAAAAAAgAAAQAAEAAAAAAAAAsAAAUA" +
        "AAAAAAAAAAUBAQAAAQAAAAAAAFABAAAAAAAQAAAAAAAAAAAAAgAAAAAAAAAAAAAAMAAAAAAAAAAAACEAAAAAAAAA" +
        "AAAAAAMAAAAAAAAAAAAAAAAAAAAAAQAAAAAAAAAAMAAAAAAAQAAAAAAAAAAAABAAAAASAAEDAAAAAAAAADAAAAAA" +
        "AAABAAAAAAAAAAABEQAAAAAAAAAAAAAAEAAAAQAAIAAAAABQAAAAABAAAAAAAAAA",
      "#hist\tk=12.5|0.0:12.0:13;12.0:24.0:11;24.0:37.0:13;37.0:49.0:12;49.0:62.0:13;62.0:74.0:" +
        "12;74.0:87.0:13;87.0:99.0:12;99.0:112.0:12;112.0:124.0:12;124.0:137.0:13;137.0:149.0:12;" +
        "149.0:162.0:13;162.0:174.0:12;174.0:187.0:13;187.0:199.0:12;199.0:1012.0:13;1012.0:1024." +
        "0:12;1024.0:1037.0:13;1037.0:1049.0:12;1049.0:1062.0:12;1062.0:1074.0:12;1074.0:1087.0:1" +
        "3;1087.0:1099.0:12;1099.0:1112.0:13;1112.0:1124.0:12;1124.0:1137.0:12;1137.0:1149.0:12;1" +
        "149.0:1162.0:13;1162.0:1174.0:12;1174.0:1187.0:13;1187.0:1199.0:12",
      "#eqdel\t%2Fwh%2Fdb%2Fg%2Fdata%2Feq8_37caa31b:k:8",
      "#eqadd\t%2Fwh%2Fstage%2Fb2%2Fpart-00000-862624bb-d4f8-4d8a-a019-e21716528569-c000.snappy" +
        ".parquet=9",
      "#txn\tgold-app\t2",
      "#delta\t8\t7",
      "+\tfile:/wh/stage/b2/part-00000-862624bb-d4f8-4d8a-a019-e21716528569-c000.snappy.parquet" +
        "\t2000\t2000\t\t\t0\t\t1"
  ).mkString("\n")

  // ...and the parquet checkpoint that closed the same table's chain
  private val goldenCheckpoint = Seq(
      "#schema\t{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable" +
        "\":true,\"metadata\":{\"GRAFT_IDENTITY_STEP\":1,\"GRAFT_IDENTITY_START\":1}},{\"name\":" +
        "\"k\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}},{\"name\":\"amount\",\"type" +
        "\":\"string\",\"nullable\":true,\"metadata\":{}}]}",
      "#stats\tk",
      "#op\tappend",
      "#props\todd+key=a%3Db%26c%2Fd\ttier=gold",
      "#colmap\tamount=v",
      "#tombstones\tjunk",
      "#constraints\tkpos=C%3Ak+%3E%3D+0",
      "#hwm\tid=201",
      "#ndv\tk=CgEHDAAIAAKgCgX1lJh5QAAAAMDo7q1AAAAAAAAAAAB4DgAAAAAAAAAAAAAAAAAAAjAAAAAAMAAAAAAA" +
        "AAAAAAEAAAAAAAAQAAAwAAAAAAAAAAIAAAAAAAAgAAAAAyAAAAAQAAAAAwAAAAAAAQAAAAABAAAAAAAAAwAAAAAA" +
        "EAAAAAAAABAwAAAQAAAAAAAHAAAAAAAAAAAAAAAAAAAAAAAAABAAAAEAAAAAAAAAAAAAEAAAAAAAAAIAAAAAAAAA" +
        "AAAEAAAAAAEAAAAAAAAAAAAAAAAAAAAAAAAAAAAAMAAAABAAAAAAAAIAAAAAAAAAAAAAAAAAAAAAAAABAAAAAAAA" +
        "AAAEAAAAQAFAAAAAARAAAAAAAAAAAAQAABAAMAAAACAAAQACAAAAAQACFAAAAAAAMABAIAAAAAAAAAAQAAAAAAMA" +
        "AAAAAAAAAAAAAAAAABAAAAAAAAAAIAAAAAAAAEAAABAAAAAAAAAAAAAFAAAAAAAAAAAAAAAQAAAAAAAAAQAAAAAA" +
        "EAAAAAABAAAAAAAAQAAQEAAAAAAAABAAMAAAABAAAAAAAAABAAEAAAAAAAAAEAAAAAAAAAAAAAAAQAMAAAAAAAAA" +
        "AAAAAAAAAAAAEAAAAAAAAAAAAQAAAABAIAAgAAAAIQAAAAAAAAAAEQAAAQAAAAEAACAAAAAFYCAAADAAAQAHcAAA" +
        "AAAAEAAAABAAAAMAAAEAAAAAAAAAAAAAAgAAAAAAAAAAAAAQAAAAABAAAAAAAAAAAwAAAAADAFQAAIAAAAAAAAAA" +
        "AQAAAAAAEAACAAAAAAAAAAEAAAAAAAAAAAABAAAAAAAAACAAEBAAIAAAAAYAAAABAAAAAAAAAAAAAAAEAAAAAAAA" +
        "ABAAACAAEQAAAAAAAABAEAAAAAUABgAAAAAAAAAABAAAAAAAABAAAAAAAAAAAAAAAAACAQAAAAAAAAAAAAAgAAAA" +
        "AAAAAAAAAAAAAAAAABAUAQAAAAAAIAAAAAABAAAAAEAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAEAAAAAAAAA" +
        "AAQQAQAAEAAEAAAAAAAAAAEAAAAAAAAAAAAAAAAAAAAAAAAAAAIEAAAQEAABAAAAAAAAAAAAAAAQMAAAAAAAAAAA" +
        "AAAAAAAAAAAAABAQAAIAAAAAAAAAAAAQAAAAAAAAAAABAAACAAAAAAAAAAAAAAAAAwAAAAAAAAEAABAAABEAAAUA" +
        "EEAAAAAAAAAAAAACAAAAAAAAAAAAAAAAAAAAAAMAAAAAAAAAAAEAAAAAAAAAAQAgIAAgAAAAAAAAAAABAAAAAAAA" +
        "AAAAAAAAEAAAAAAAAAIAAAAAMAAhEAAAEQABAAAAAAAAAAAAAAAlAQAAAAAAAAAAAAABAAQQAAAAMBAAACAAAAAg" +
        "AAAAAAAQAAABAAAAEAAAADABAAAAAAAAAAAAAAAQAAAAAAABAQAAAAAgAABAAAAAAAAAAAABAAAAAAAAAAAAAAAA" +
        "AAAAAAAAAAEAAAAAAAACAAAAAAAAEAAAAAEAAAAAAQAgAAAAAAEAAAAAMgAAAAAAAAAAAAAAABAAMAUABgAAAAAA" +
        "EAAAAwAAEAAAAAABAAAAAAAAAAAAAAAAAAADAAAAAAEAAAAAECAiEAABAAAAAAAAAAAAAAAAAAAAABBQAAAAAABQ" +
        "ERAAACAAAAAAAAEAUAAQAAAAAAARAAABAAAAAAAAAAAAAAAgABAAARAAAAEAABARAAAAAAAAAAAAABAAAAADAAAA" +
        "MAAAEiAAAAAAAAAAAAAAAAAAAAAAIAAAAAAAAAAQAAABAQAAAAAAAAABAAAAAAAAAAAAAAADAAAABAAAAAAAMAAB" +
        "ACAAAAAAIBAAQAAAAAAAAAAAMAAgEAAAEAAAAAAAAAAAAAAAAAACAAEAMAAABQAAAAADAAADAAAAACAAAAAAAAAA" +
        "BAAAAACAAAAAABAhAAAAAAIAAAEAAAAAAAQAAAAAEAAAAAMAAAAAAAAAAAADAAAAAAAAAAAAAAAAQAAAAAAAEAAA" +
        "AAAAAAAAAAAAAABgAAEQMAAAAAAQAAAABAAAAAYAAAAAAAACAAAAEAAAAQYgAAACAAAAAgAAAAAAAAAAAAAAAAAA" +
        "AAACAAAAEAAAAAABAAAAAAAAAQAAAAAAEBAAAAAAAAABACABAAAABAAAAAAAAAAAAAAAEAAAAAAAAAAAAAAQABAA" +
        "AAABAAAgAAAAAAAAAAAAAAAAAAQAADAAAgAAAABxAAAAAQAAAAQAMAABAAAAAAMAAAAAAAABAAAAAAAAAAAABAEA" +
        "AGAAgAAAAAAAAAAAAAAAAAIAAAAAAAAwAAAAAAAAEAAAAAAAACAAAAIAAAABAAAAAAAAAAABAAAAAAoAAAAwAAAA" +
        "AAAAAAAAAAEAAgAAAAAAAAAAAAAAAAAAABAAAAAAAgAQAAAAAAAAAAEAAAAAAABAAAADAAAAAgAAAAAAAAAAAAAA" +
        "ABCAAAAAAAAgAAAAAAAAAAAAAAAAAAAAAAAQAAAQAAAAAAAAAAAAAAAAAAAAAAAAAgAAAQAAEAAAAAAAAAsAAAUA" +
        "AAAAAAAAAAUBAQAAAQAAAAAAAFABAAAAAAAQAAAAAAAAAAAAAgAAAAAAAAAAAAAAMAAAAAAAAAAAACEAAAAAAAAA" +
        "AAAAAAMAAAAAAAAAAAAAAAAAAAAAAQAAAAAAAAAAMAAAAAAAQAAAAAAAAAAAABAAAAASAAEDAAAAAAAAADAAAAAA" +
        "AAABAAAAAAAAAAABEQAAAAAAAAAAAAAAEAAAAQAAIAAAAABSAAAAABAAAAAAAAAA",
      "#hist\tk=12.5|0.0:12.0:13;12.0:24.0:11;24.0:37.0:13;37.0:49.0:12;49.0:62.0:13;62.0:74.0:" +
        "12;74.0:87.0:13;87.0:99.0:12;99.0:112.0:12;112.0:124.0:12;124.0:137.0:13;137.0:149.0:12;" +
        "149.0:162.0:13;162.0:174.0:12;174.0:187.0:13;187.0:199.0:12;199.0:1012.0:13;1012.0:1024." +
        "0:12;1024.0:1037.0:13;1037.0:1049.0:12;1049.0:1062.0:12;1062.0:1074.0:12;1074.0:1087.0:1" +
        "3;1087.0:1099.0:12;1099.0:1112.0:13;1112.0:1124.0:12;1124.0:1137.0:12;1137.0:1149.0:12;1" +
        "149.0:1162.0:13;1162.0:1174.0:12;1174.0:1187.0:13;1187.0:1199.0:12",
      "#eqdel\t%2Fwh%2Fdb%2Fg%2Fdata%2Feq8_37caa31b:k:8",
      "#eqadd\t%2Fwh%2Fstage%2Fb10%2Fpart-00000-c183cf2d-c311-4bf4-9e94-bb4b3b493fdc-c000.snapp" +
        "y.parquet=17\t%2Fwh%2Fstage%2Fb11%2Fpart-00000-f84a3388-4e1b-40dd-af1e-80edefb78798-c000" +
        ".snappy.parquet=18\t%2Fwh%2Fstage%2Fb2%2Fpart-00000-862624bb-d4f8-4d8a-a019-e21716528569" +
        "-c000.snappy.parquet=9\t%2Fwh%2Fstage%2Fb3%2Fpart-00000-bc1dcfce-f501-4c7c-8087-c73c3ad3" +
        "1154-c000.snappy.parquet=10\t%2Fwh%2Fstage%2Fb4%2Fpart-00000-3c14d57d-fb8d-41af-932e-4a3" +
        "db87632ab-c000.snappy.parquet=11\t%2Fwh%2Fstage%2Fb5%2Fpart-00000-a37b31d9-221c-4c72-992" +
        "a-b04189302e1b-c000.snappy.parquet=12\t%2Fwh%2Fstage%2Fb6%2Fpart-00000-a0c30a2e-4bb8-416" +
        "7-9951-2d0822ac89b2-c000.snappy.parquet=13\t%2Fwh%2Fstage%2Fb7%2Fpart-00000-2741c2ef-6b5" +
        "8-40a2-a0dd-d646bdbf81b3-c000.snappy.parquet=14\t%2Fwh%2Fstage%2Fb8%2Fpart-00000-ca692cd" +
        "9-d48a-43ae-8a86-5e93cc02326e-c000.snappy.parquet=15\t%2Fwh%2Fstage%2Fb9%2Fpart-00000-c9" +
        "fec716-4898-4224-b0e2-31ed10f7b54e-c000.snappy.parquet=16",
      "#txn\tgold-app\t11",
      "#entriespq\tv18.entries.b4020c41.zstd.parquet\t112"
  ).mkString("\n")

  test("golden manifests written before the codec parse into every header and re-render byte for byte") {
    val d = Manifest.parse(goldenDelta)
    assert(d.schema.exists(_.fieldNames.toSeq == Seq("id", "k", "amount")))
    assert(d.statsCols == Seq("k"))
    assert(d.op.contains("append"))
    assert(d.props == Map("odd key" -> "a=b&c/d", "tier" -> "gold"))
    assert(d.colmap == Map("amount" -> "v"))
    assert(d.tombstones == Set("junk"))
    assert(d.constraints == Seq("kpos" -> "C:k >= 0"))
    assert(d.hwm == Map("id" -> 201L))
    assert(d.ndv.keySet == Set("k") && TableFormat.ndvEstimate(d.ndv("k")) > 0)
    val (height, bins) = d.histograms("k")
    assert(height == 12.5 && bins.size == 32 && bins.head == ((0.0, 12.0, 13L)))
    assert(d.eqDels == Seq(("/wh/db/g/data/eq8_37caa31b", "k", 8)))
    assert(d.eqAdds == Map(
      "/wh/stage/b2/part-00000-862624bb-d4f8-4d8a-a019-e21716528569-c000.snappy.parquet" -> 9))
    assert(d.txn.contains(("gold-app", 2L)))
    assert(d.delta.contains((8, 7)) && d.depth == 7 && d.entriesPq.isEmpty)
    assert(d.body.size == 1 && d.body.head.startsWith("+\tfile:/wh/stage/b2/"))
    assert(d.render == goldenDelta)

    val c = Manifest.parse(goldenCheckpoint)
    assert(c.entriesPq.contains(("v18.entries.b4020c41.zstd.parquet", 112)))
    assert(c.delta.isEmpty && c.depth == 0 && c.body.isEmpty)
    assert(c.txn.contains(("gold-app", 11L)) && c.eqAdds.size == 10)
    assert(c.copy(entriesPq = None, txn = None, eqAdds = Map.empty, ndv = Map.empty,
      hist = Map.empty) == d.copy(delta = None, body = Nil, txn = None, eqAdds = Map.empty,
      ndv = Map.empty, hist = Map.empty))
    assert(c.render == goldenCheckpoint)
  }

  test("every manifest of a table driven through DDL, ANALYZE, an equality delete and 16+ commits round-trips") {
    val wh = s"${graft.Tables.scratchDir}/graft_wh"
    spark.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val base = s"$wh/db/codec_rt"
    val f = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new Path(base), true)
    spark.sql(
      """CREATE TABLE graft.db.codec_rt
        |  (id BIGINT GENERATED ALWAYS AS IDENTITY, k BIGINT, v STRING, junk INT)
        |PARTITIONED BY (k)
        |TBLPROPERTIES ('tier' = 'gold', 'odd key' = 'a=b&c/d')""".stripMargin)
    (0L until 200L).map(i => (i, s"v$i", i.toInt)).toDF("k", "v", "junk")
      .createOrReplaceTempView("codec_src")
    spark.sql("INSERT INTO graft.db.codec_rt (k, v, junk) SELECT k, v, junk FROM codec_src")
    spark.sql("ALTER TABLE graft.db.codec_rt ADD CONSTRAINT kpos CHECK (k >= 0)")
    spark.sql("ALTER TABLE graft.db.codec_rt RENAME COLUMN v TO amount")
    spark.sql("ALTER TABLE graft.db.codec_rt DROP COLUMN junk")
    val schema = TableFormat.manifest(spark, base, TableFormat.latestVersion(spark, base))
      .schema.get
    // streamed appends: files staged under the PHYSICAL names, a txn each
    def batch(b: Int, files: Int): Unit = {
      val dir = s"$base/stage/b$b"
      (0 until files * 4).map(i => (100000L * b + i, 1000L * b + i, s"s$b-$i"))
        .toDF("id", "k", "v").repartition(files).write.parquet(dir)
      val paths = f.listStatus(new Path(dir)).map(_.getPath.toString)
        .filter(_.endsWith(".parquet")).toSeq
      TableFormat.appendCommitStaged(spark, base, paths, schema, txn = Some(("codec-app", b.toLong)))
    }
    batch(1, 70) // enough entries for the next checkpoint to go parquet
    spark.sql("CALL graft.system.analyze('db.codec_rt')").collect()
    TableFormat.deleteByKeysEq(spark, base, Seq(3L, 4L).toDF("k"), "k")
    (2 to 14).foreach(batch(_, 1))
    val manifests = f.listStatus(new Path(s"$base/_manifests")).map(_.getPath)
      .filter(_.getName.endsWith(".manifest"))
    assert(manifests.length >= 20, manifests.length)
    val seen = manifests.flatMap { p =>
      val text = TableFormat.readFile(spark, p.toString)
      assert(Manifest.parse(text).render == text, s"${p.getName} did not round-trip")
      text.split("\n").filter(_.startsWith("#")).map(_.takeWhile(_ != '\t'))
    }.toSet
    assert(seen == Set("#schema", "#stats", "#op", "#props", "#colmap", "#tombstones",
      "#constraints", "#hwm", "#ndv", "#hist", "#eqdel", "#eqadd", "#txn", "#delta",
      "#entriespq"), seen)
    // the value the cache serves is the parse of the file on disk
    val head = TableFormat.latestVersion(spark, base)
    assert(TableFormat.manifest(spark, base, head) ==
      Manifest.parse(TableFormat.readFile(spark, s"$base/_manifests/v$head.manifest")))
  }

  test("a txn app id holding a tab or line break is refused before any manifest is written") {
    val base = s"${graft.Tables.scratchDir}/codec_txn"
    val f = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new Path(base), true)
    val df = Seq((1L, "a")).toDF("k", "v")
    for (bad <- Seq("app\n/x/injected.parquet", "app\r", "app\t7")) {
      val e = intercept[IllegalArgumentException](
        TableFormat.exactlyOnceBatch(base, appId = bad)(df, 0L))
      assert(e.getMessage.contains("txn app id"), e.getMessage)
      assert(!f.exists(new Path(s"$base/_manifests/v1.manifest")))
    }
    // the commit choke point refuses too (the streaming sink's query id)
    intercept[IllegalArgumentException](
      TableFormat.commit(spark, base, df, 1, None, txn = Some(("q\n1", 0L))))
    assert(!f.exists(new Path(s"$base/_manifests/v1.manifest")))
    // a well-formed id commits and reads back
    TableFormat.exactlyOnceBatch(base, appId = "app")(df, 0L)
    assert(TableFormat.manifest(spark, base, 1).txn.contains(("app", 0L)))
  }
}
