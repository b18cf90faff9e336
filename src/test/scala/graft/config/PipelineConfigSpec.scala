package graft.config

import org.scalatest.funsuite.AnyFunSuite

class PipelineConfigSpec extends AnyFunSuite {

  private val base =
    """source.type: parquet
      |source.path: /data/in
      |target.type: parquet
      |target.path: /data/out
      |target.mode: overwrite
      |""".stripMargin

  test("minimal parquet-to-parquet config parses") {
    val cfg = PipelineConfig.parse(base).toOption.get
    assert(cfg.source == SourceConfig.Parquet("/data/in", None, None))
    assert(cfg.target == TargetConfig.Parquet("/data/out", "overwrite", "snappy"))
    assert(cfg.renames.isEmpty && cfg.validation.isEmpty)
  }

  test("full config with renames, filter, validation, savepoints") {
    val cfg = PipelineConfig.parse(base.replace("target.mode: overwrite",
      "target.mode: append") +
      """source.where: id > 10
        |source.columns: id, name
        |renames: name->full_name, id->pk
        |savepoints.dir: /tmp/sp
        |skipFiles: /a.parquet, /b.parquet
        |validation.primaryKey: pk
        |validation.compareColumns: full_name
        |validation.tolerance: 0.5
        |validation.failuresToFetch: 10
        |""".stripMargin).toOption.get
    assert(cfg.source == SourceConfig.Parquet("/data/in", Some("id > 10"), Some(List("id", "name"))))
    assert(cfg.renames.map(r => r.from -> r.to) == List("name" -> "full_name", "id" -> "pk"))
    assert(cfg.skipFiles == Set("/a.parquet", "/b.parquet"))
    assert(cfg.validation.get.tolerance == 0.5)
  }

  test("eager validation rejects bad configs at load") {
    assert(PipelineConfig.parse(base + "renames: a->x, b->X\n").isLeft)          // target collision
    assert(PipelineConfig.parse(base + "target.mode2: zap\n").isLeft)            // unknown key
    assert(PipelineConfig.parse(base + "validation.primaryKey:\n").isLeft)       // empty pk
    assert(PipelineConfig.parse(base + "validation.primaryKey: id\nvalidation.tolerance: -1\n").isLeft)
    assert(PipelineConfig.parse(base.replace("overwrite", "clobber")).isLeft)    // bad mode
    assert(PipelineConfig.parse(base + "target.compression: brotli2\n").isLeft)  // bad codec
    assert(PipelineConfig.parse("source.type: parquet\n").isLeft)                // missing pieces
  }

  test("jdbc source arm parses with partitioning") {
    val cfg = PipelineConfig.parse(
      """source.type: jdbc
        |source.url: jdbc:mysql://h/db
        |source.table: t
        |source.partitionColumn: id
        |source.numPartitions: 8
        |source.lowerBound: 0
        |source.upperBound: 1000
        |target.type: parquet
        |target.path: /out
        |target.mode: overwrite
        |""".stripMargin).toOption.get
    assert(cfg.source.asInstanceOf[SourceConfig.Jdbc].numPartitions == 8)
  }

  test("a malformed value is a Left naming its key, not an exception") {
    val jdbc = "source.type: jdbc\nsource.url: jdbc:h2:mem\nsource.table: t\n" +
      "target.type: parquet\ntarget.path: /out\n"
    def text(kind: String) = s"source.type: $kind\nsource.path: /in\n" +
      "source.schema: id INT\ntarget.type: parquet\ntarget.path: /out\n"
    val csvTarget = base.replace("target.type: parquet", "target.type: csv")
    val stream = base + "stream.changesDir: /ch\nstream.checkpointDir: /ck\n"
    val spanDedup = base + "transforms: spanDedup\ntransform.spanDedup.idColumn: id\n" +
      "transform.spanDedup.textColumn: t\n"
    val cases = Seq(
      base -> "source.versioned" -> "a boolean",
      base -> "source.mergeSchema" -> "a boolean",
      jdbc -> "source.numPartitions" -> "an int",
      text("csv") -> "source.header" -> "a boolean",
      text("csv") -> "source.inferSchema" -> "a boolean",
      text("json") -> "source.inferSchema" -> "a boolean",
      base -> "target.maxRecordsPerFile" -> "a long",
      base -> "target.versioned" -> "a boolean",
      base -> "target.zorderFiles" -> "an int",
      base -> "target.compactTargetBytes" -> "a long",
      csvTarget -> "target.header" -> "a boolean",
      base -> "validation.tolerance" -> "a double",
      base -> "validation.failuresToFetch" -> "an int",
      stream -> "stream.triggerMs" -> "a long",
      spanDedup -> "transform.spanDedup.keepFirst" -> "a boolean")
    cases.foreach { case ((cfg, key), what) =>
      assert(PipelineConfig.parse(cfg + s"$key: yes\n") == Left(s"$key not $what"), key)
    }
  }

  test("a key no builder reads is unknown under every source type, target type and stage") {
    def unknown(cfg: String, key: String): Unit =
      assert(PipelineConfig.parse(cfg + s"$key: x\n") == Left(s"unknown config key: $key"))
    assert(PipelineConfig.sourceTypes.size == 6 && PipelineConfig.targetTypes.size == 6)
    assert(PipelineConfig.stageNames.size == 58)
    PipelineConfig.sourceTypes.foreach(t =>
      unknown(base.replace("source.type: parquet", s"source.type: $t"), "source.bogusKey"))
    PipelineConfig.targetTypes.foreach(t =>
      unknown(base.replace("target.type: parquet", s"target.type: $t"), "target.bogusKey"))
    PipelineConfig.stageNames.foreach(n =>
      unknown(base + s"transforms: $n\n", s"transform.$n.bogusKey"))
  }

  test("every config block in docs/RECIPES.md parses") {
    val doc = new java.io.File("docs/RECIPES.md")
    assert(doc.isFile, s"${doc.getAbsolutePath} missing")
    val src = scala.io.Source.fromFile(doc, "UTF-8")
    val lines = try src.getLines().toList finally src.close()
    // fenced blocks: the lines between each opening and closing ``` fence
    val fences = lines.zipWithIndex.collect { case (l, i) if l.startsWith("```") => i }
    val blocks = fences.grouped(2).collect { case List(a, b) => lines.slice(a + 1, b) }
      .filter(_.map(_.takeWhile(_ != '#').trim).find(_.nonEmpty)
        .exists(_.startsWith("source.type:")))
      .toList
    assert(blocks.size >= 5, s"found ${blocks.size} config blocks")
    blocks.foreach { b =>
      val cfg = b.mkString("\n")
      assert(PipelineConfig.parse(cfg).isRight, s"${PipelineConfig.parse(cfg)} for:\n$cfg")
    }
  }
}
