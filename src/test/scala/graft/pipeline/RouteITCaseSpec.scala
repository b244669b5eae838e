package graft.pipeline

import graft.SparkSpec
import graft.model._
import graft.sinks.ValuesDatabase
import graft.sources.ValuesSource
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Ports of the reference's `FlinkPipelineComposerITCase` routing suite
  * (flink-cdc-composer/src/test/java/.../FlinkPipelineComposerITCase.java):
  * many-to-one route merging derives sink DDL as a least-common-schema
  * DIFF (a shard's rename becomes an ADD, a second CREATE becomes
  * ADD + retype), replace-symbol routing forwards per-table DDL 1:1.
  * Assertions run against the sink's rendered event stream, like the
  * reference's stdout capture.
  */
class RouteITCaseSpec extends SparkSpec {

  private val ns = "default_namespace.default_schema"
  private val t1 = TableId.parse(s"$ns.mytable1")
  private val t2 = TableId.parse(s"$ns.mytable2")
  private val merged = s"$ns.merged"

  private val table1Info = TableInfo(
    StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType),
      StructField("age", IntegerType))),
    primaryKeys = Seq("id"))

  private val table2Info = TableInfo(
    StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("age", ByteType), StructField("description", StringType))),
    primaryKeys = Seq("id"))

  /** The reference's testMergingWithRoute script: CRUD on two differently
    * shaped shards, then a rename on shard 1 and an add on shard 2
    * (FlinkPipelineComposerITCase.java:591-787).
    */
  private def mergingEvents(withRename: Boolean): Seq[Event] = Seq(
    CreateTableEvent(t1, table1Info),
    DataChangeEvent.insert(t1, Row(1, "Alice", 18)),
    DataChangeEvent.insert(t1, Row(2, "Bob", 20)),
    DataChangeEvent.update(t1, Row(2, "Bob", 20), Row(2, "Bob", 30)),
    CreateTableEvent(t2, table2Info),
    DataChangeEvent.insert(t2, Row(3L, "Charlie", 15.toByte, "student")),
    DataChangeEvent.insert(t2, Row(4L, "Donald", 25.toByte, "student")),
    DataChangeEvent.delete(t2, Row(4L, "Donald", 25.toByte, "student"))) ++
    (if (withRename) Seq(RenameColumnEvent(t1, Map("name" -> "last_name"))) else Nil) ++ Seq(
    AddColumnEvent(t2, Seq((StructField("gender", StringType), ColumnPosition.Last))),
    DataChangeEvent.insert(t1, Row(5, "Eliza", 24)),
    DataChangeEvent.insert(t2, Row(6L, "Frank", 30.toByte, "student", "male")))

  private def run(events: Seq[Event], routeYaml: String,
      transformYaml: String = "", behavior: String = "evolve"): ValuesDatabase = {
    val pd = YamlPipelineParser.parse(
      s"""source: { type: values }
         |sink: { type: values }
         |$transformYaml
         |$routeYaml
         |pipeline: { schema.change.behavior: $behavior }
         |""".stripMargin)
    val sink = new ValuesDatabase
    new PipelineRunner(spark, pd, new ValuesSource(events), sink).run()
    sink
  }

  test("route merging: shard DDL becomes least-common diff on the sink (testMergingWithRoute)") {
    val sink = run(mergingEvents(withRename = true),
      s"""route:
         |  - source-table: $ns.mytable[0-9]
         |    sink-table: $merged
         |""".stripMargin)
    assert(sink.eventLog === Seq(
      s"CreateTableEvent{tableId=$merged, schema=columns={id INT, name STRING, age INT}, primaryKeys=id}",
      s"DataChangeEvent{tableId=$merged, before=[], after=[1, Alice, 18], op=INSERT}",
      s"DataChangeEvent{tableId=$merged, before=[], after=[2, Bob, 20], op=INSERT}",
      s"DataChangeEvent{tableId=$merged, before=[2, Bob, 20], after=[2, Bob, 30], op=UPDATE}",
      // shard 2's CREATE evolves the existing sink by DIFF
      s"AddColumnEvent{tableId=$merged, addedColumns=[description STRING After(age)]}",
      s"AlterColumnTypeEvent{tableId=$merged, types=[id BIGINT]}",
      s"DataChangeEvent{tableId=$merged, before=[], after=[3, Charlie, 15, student], op=INSERT}",
      s"DataChangeEvent{tableId=$merged, before=[], after=[4, Donald, 25, student], op=INSERT}",
      s"DataChangeEvent{tableId=$merged, before=[4, Donald, 25, student], after=[], op=DELETE}",
      // shard 1's rename cannot rename a column shard 2 still writes:
      // it derives as an ADD of the new name
      s"AddColumnEvent{tableId=$merged, addedColumns=[last_name STRING After(description)]}",
      s"AddColumnEvent{tableId=$merged, addedColumns=[gender STRING After(last_name)]}",
      s"DataChangeEvent{tableId=$merged, before=[], after=[5, null, 24, null, Eliza, null], op=INSERT}",
      s"DataChangeEvent{tableId=$merged, before=[], after=[6, Frank, 30, student, null, male], op=INSERT}"))
  }

  test("route merging: shards in one source batch reach the sink as one write") {
    final class CountingSink extends graft.sinks.DataSink {
      val inner = new ValuesDatabase
      var writes = 0
      override def applySchemaChange(e: SchemaChangeEvent): Unit = inner.applySchemaChange(e)
      override def write(tableId: TableId, exploded: org.apache.spark.sql.DataFrame,
          info: TableInfo): Unit = { writes += 1; inner.write(tableId, exploded, info) }
    }
    // no DDL between the data events: ValuesSource emits ONE SourceBatch
    // carrying both shards
    val events = Seq(
      CreateTableEvent(t1, table1Info),
      CreateTableEvent(t2, table1Info),
      DataChangeEvent.insert(t1, Row(1, "Alice", 18)),
      DataChangeEvent.insert(t2, Row(10, "Jack", 40)),
      DataChangeEvent.insert(t1, Row(2, "Bob", 20)),
      DataChangeEvent.update(t2, Row(10, "Jack", 40), Row(10, "Jack", 41)))
    val pd = YamlPipelineParser.parse(
      s"""source: { type: values }
         |sink: { type: values }
         |route:
         |  - source-table: $ns.mytable[0-9]
         |    sink-table: $merged
         |pipeline: { schema.change.behavior: evolve }
         |""".stripMargin)
    val sink = new CountingSink
    new PipelineRunner(spark, pd, new ValuesSource(events), sink).run()
    assert(sink.writes === 1)
    assert(sink.inner.eventLog === Seq(
      s"CreateTableEvent{tableId=$merged, schema=columns={id INT, name STRING, age INT}, primaryKeys=id}",
      s"DataChangeEvent{tableId=$merged, before=[], after=[1, Alice, 18], op=INSERT}",
      s"DataChangeEvent{tableId=$merged, before=[], after=[2, Bob, 20], op=INSERT}",
      s"DataChangeEvent{tableId=$merged, before=[], after=[10, Jack, 40], op=INSERT}",
      s"DataChangeEvent{tableId=$merged, before=[10, Jack, 40], after=[10, Jack, 41], op=UPDATE}"))
  }

  test("transform + route merging: computed column joins the merged schema (testTransformMergingWithRoute)") {
    // DIVERGENCE NOTE: the reference's variant also renames shard 1's
    // `name` mid-stream and maps post-rename payloads back through its
    // column-name-map; the rename produces no sink-visible DDL there (the
    // computed last_name already exists). The port omits that rename —
    // every sink-side event below matches the reference's expectations.
    val sink = run(mergingEvents(withRename = false),
      s"""route:
         |  - source-table: $ns.mytable[0-9]
         |    sink-table: $merged
         |""".stripMargin,
      s"""transform:
         |  - source-table: $ns.mytable[0-9]
         |    projection: "*, 'last_name' as last_name"
         |""".stripMargin)
    assert(sink.eventLog === Seq(
      s"CreateTableEvent{tableId=$merged, schema=columns={id INT, name STRING, age INT, last_name STRING}, primaryKeys=id}",
      s"DataChangeEvent{tableId=$merged, before=[], after=[1, Alice, 18, last_name], op=INSERT}",
      s"DataChangeEvent{tableId=$merged, before=[], after=[2, Bob, 20, last_name], op=INSERT}",
      s"DataChangeEvent{tableId=$merged, before=[2, Bob, 20, last_name], after=[2, Bob, 30, last_name], op=UPDATE}",
      s"AddColumnEvent{tableId=$merged, addedColumns=[description STRING After(last_name)]}",
      s"AlterColumnTypeEvent{tableId=$merged, types=[id BIGINT]}",
      s"DataChangeEvent{tableId=$merged, before=[], after=[3, Charlie, 15, last_name, student], op=INSERT}",
      s"DataChangeEvent{tableId=$merged, before=[], after=[4, Donald, 25, last_name, student], op=INSERT}",
      s"DataChangeEvent{tableId=$merged, before=[4, Donald, 25, last_name, student], after=[], op=DELETE}",
      s"AddColumnEvent{tableId=$merged, addedColumns=[gender STRING After(description)]}",
      s"DataChangeEvent{tableId=$merged, before=[], after=[5, Eliza, 24, last_name, null, null], op=INSERT}",
      s"DataChangeEvent{tableId=$merged, before=[], after=[6, Frank, 30, last_name, student, male], op=INSERT}"))
  }

  test("route merging under LENIENT: derived adds append LAST (LenientITCase.testMergingWithRoute)") {
    val sink = run(mergingEvents(withRename = true),
      s"""route:
         |  - source-table: $ns.mytable[0-9]
         |    sink-table: $merged
         |""".stripMargin, behavior = "lenient")
    // identical to the EVOLVE variant except lenient strips add anchors
    assert(sink.eventLog.filter(e => e.startsWith("AddColumnEvent") ||
        e.startsWith("AlterColumnTypeEvent")) === Seq(
      s"AddColumnEvent{tableId=$merged, addedColumns=[description STRING Last]}",
      s"AlterColumnTypeEvent{tableId=$merged, types=[id BIGINT]}",
      s"AddColumnEvent{tableId=$merged, addedColumns=[last_name STRING Last]}",
      s"AddColumnEvent{tableId=$merged, addedColumns=[gender STRING Last]}"))
    assert(sink.eventLog.last ===
      s"DataChangeEvent{tableId=$merged, before=[], after=[6, Frank, 30, student, null, male], op=INSERT}")
    assert(sink.eventLog.size === 13)
  }

  test("complex types merge to STRING across routed shards (BatchComposerITCase.testMergingComplexTypesWithRoute)") {
    // ARRAY/MAP/ROW in shard 1 vs STRING in shard 2 at the same columns:
    // the merge lattice falls back to STRING and shard 1's values coerce
    // through Spark's cast rendering (the reference prints Java
    // Arrays.toString-style — a documented rendering divergence)
    val a = TableId.parse(s"$ns.mytable1")
    val b = TableId.parse(s"$ns.mytable2")
    val rowT = StructType(Seq(StructField("f0", IntegerType), StructField("f1", StringType)))
    val infoA = TableInfo(StructType(Seq(
      StructField("id", IntegerType),
      StructField("arr", ArrayType(IntegerType)),
      StructField("mp", MapType(StringType, IntegerType)),
      StructField("rw", rowT))), primaryKeys = Seq("id"))
    val infoB = TableInfo(StructType(Seq(
      StructField("id", IntegerType), StructField("arr", StringType),
      StructField("mp", StringType), StructField("rw", StringType))),
      primaryKeys = Seq("id"))
    val events = Seq(
      CreateTableEvent(a, infoA), CreateTableEvent(b, infoB),
      DataChangeEvent.insert(a, Row(1, Seq(10, 20, 30), Map("key" -> 42), Row(7, "hello"))),
      DataChangeEvent.insert(b, Row(2, "plain_arr", "plain_mp", "plain_rw")))
    val sink = run(events,
      s"""route:
         |  - source-table: $ns.mytable[0-9]
         |    sink-table: $merged
         |""".stripMargin)
    assert(sink.eventLog === Seq(
      s"CreateTableEvent{tableId=$merged, schema=columns={id INT, arr ARRAY<INT>, mp MAP<STRING, INT>, rw STRUCT<f0: INT, f1: STRING>}, primaryKeys=id}",
      s"AlterColumnTypeEvent{tableId=$merged, types=[arr STRING, mp STRING, rw STRING]}",
      s"DataChangeEvent{tableId=$merged, before=[], after=[1, [10, 20, 30], {key -> 42}, {7, hello}], op=INSERT}",
      s"DataChangeEvent{tableId=$merged, before=[], after=[2, plain_arr, plain_mp, plain_rw], op=INSERT}"))
  }

  test("replace-symbol routing forwards per-table DDL one-to-one (testRouteWithReplaceSymbol)") {
    // the reference's SINGLE_SPLIT_MULTI_TABLES script
    // (ValuesDataSourceHelper.java:291-413)
    val a = TableId.parse(s"$ns.table1")
    val b = TableId.parse(s"$ns.table2")
    val info = TableInfo(
      StructType(Seq(StructField("col1", StringType), StructField("col2", StringType))),
      primaryKeys = Seq("col1"))
    val events = Seq(
      CreateTableEvent(a, info), CreateTableEvent(b, info),
      DataChangeEvent.insert(a, Row("1", "1")),
      DataChangeEvent.insert(a, Row("2", "2")),
      DataChangeEvent.insert(a, Row("3", "3")),
      AddColumnEvent(a, Seq((StructField("col3", StringType), ColumnPosition.Last))),
      DataChangeEvent.insert(b, Row("1", "1")),
      DataChangeEvent.insert(b, Row("2", "2")),
      DataChangeEvent.insert(b, Row("3", "3")),
      RenameColumnEvent(a, Map("col2" -> "newCol2", "col3" -> "newCol3")),
      DropColumnEvent(a, Seq("newCol2")),
      DataChangeEvent.delete(a, Row("1", "1")),
      DataChangeEvent.update(a, Row("2", "2"), Row("2", "x")))
    val sink = run(events,
      s"""route:
         |  - source-table: $ns.table[0-9]
         |    sink-table: replaced_namespace.replaced_schema.__$$__
         |    replace-symbol: __$$__
         |""".stripMargin)
    val r = "replaced_namespace.replaced_schema"
    assert(sink.eventLog === Seq(
      s"CreateTableEvent{tableId=$r.table1, schema=columns={col1 STRING, col2 STRING}, primaryKeys=col1}",
      s"CreateTableEvent{tableId=$r.table2, schema=columns={col1 STRING, col2 STRING}, primaryKeys=col1}",
      s"DataChangeEvent{tableId=$r.table1, before=[], after=[1, 1], op=INSERT}",
      s"DataChangeEvent{tableId=$r.table1, before=[], after=[2, 2], op=INSERT}",
      s"DataChangeEvent{tableId=$r.table1, before=[], after=[3, 3], op=INSERT}",
      s"AddColumnEvent{tableId=$r.table1, addedColumns=[col3 STRING Last]}",
      s"DataChangeEvent{tableId=$r.table2, before=[], after=[1, 1], op=INSERT}",
      s"DataChangeEvent{tableId=$r.table2, before=[], after=[2, 2], op=INSERT}",
      s"DataChangeEvent{tableId=$r.table2, before=[], after=[3, 3], op=INSERT}",
      s"RenameColumnEvent{tableId=$r.table1, renames=[col2->newCol2, col3->newCol3]}",
      s"DropColumnEvent{tableId=$r.table1, droppedColumns=[newCol2]}",
      s"DataChangeEvent{tableId=$r.table1, before=[1, 1], after=[], op=DELETE}",
      s"DataChangeEvent{tableId=$r.table1, before=[2, 2], after=[2, x], op=UPDATE}"))
  }

  /** Out-of-bound decimal merges shed SCALE, never integer digits
    * (FlinkPipelineComposerITCase.decimalOOB:1422-1463 +
    * SchemaMergingUtils.createDecimalBounded:931-938), and the shard
    * values re-encode at the merged scale.
    */
  private def decimalOobCase(p1: Int, s1: Int, v1: String, p2: Int, s2: Int, v2: String,
      mergedType: String, r1: String, r2: String): Unit = {
    val a = TableId.parse("test_database.na.test_table_1")
    val b = TableId.parse("test_database.na.test_table_2")
    def info(p: Int, s: Int) = TableInfo(
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("dec", DecimalType(p, s)))), primaryKeys = Seq("id"))
    val events = Seq(
      CreateTableEvent(a, info(p1, s1)),
      CreateTableEvent(b, info(p2, s2)),
      DataChangeEvent.insert(a, Row(1L, new java.math.BigDecimal(v1))),
      DataChangeEvent.insert(b, Row(2L, new java.math.BigDecimal(v2))))
    val m = "test_database.na.merged"
    val sink = run(events,
      s"""route:
         |  - source-table: test_database.na.test_table_\\.*
         |    sink-table: $m
         |""".stripMargin)
    assert(sink.eventLog === Seq(
      s"CreateTableEvent{tableId=$m, schema=columns={id BIGINT, dec DECIMAL($p1, $s1)}, primaryKeys=id}",
      s"AlterColumnTypeEvent{tableId=$m, types=[dec $mergedType]}",
      s"DataChangeEvent{tableId=$m, before=[], after=[1, $r1], op=INSERT}",
      s"DataChangeEvent{tableId=$m, before=[], after=[2, $r2], op=INSERT}"))
  }

  test("decimal OOB merge: DECIMAL(10,5)+DECIMAL(19,3) -> DECIMAL(21,5)") {
    decimalOobCase(10, 5, "12345.54321", 19, 3, "1234567890123456.789",
      "DECIMAL(21, 5)", "12345.54321", "1234567890123456.78900")
  }

  test("decimal OOB merge: DECIMAL(25,16)+DECIMAL(32,32) -> DECIMAL(38,29)") {
    decimalOobCase(25, 16, "123456789.1234567890123456",
      32, 32, "0.12345678901234567890123456789012",
      "DECIMAL(38, 29)",
      "123456789.12345678901234560000000000000",
      "0.12345678901234567890123456789")
  }

  test("decimal OOB merge: DECIMAL(38,38)+DECIMAL(38,0) -> DECIMAL(38,0)") {
    decimalOobCase(38, 38, "0.12345678901234567890123456789012345678",
      38, 0, "12345678901234567890123456789012345678",
      "DECIMAL(38, 0)", "0", "12345678901234567890123456789012345678")
  }

  /** The reference's route-mode suite: three rules where the third
    * (`table\.*` → routed_all) also matches everything the first two
    * match (FlinkPipelineComposerITCase.testRouteModeFirstMatch:1730 /
    * testRouteModeAllMatch:1799).
    */
  private def routeModeRun(mode: String): ValuesDatabase = {
    val a = TableId.parse(s"$ns.table1")
    val b = TableId.parse(s"$ns.table2")
    val info = TableInfo(
      StructType(Seq(StructField("col1", StringType), StructField("col2", StringType))),
      primaryKeys = Seq("col1"))
    val events = Seq(
      CreateTableEvent(a, info),
      DataChangeEvent.insert(a, Row("1", "1")),
      DataChangeEvent.insert(a, Row("2", "2")),
      DataChangeEvent.insert(a, Row("3", "3")),
      CreateTableEvent(b, info),
      DataChangeEvent.insert(b, Row("1", "1")),
      DataChangeEvent.insert(b, Row("2", "2")),
      DataChangeEvent.insert(b, Row("3", "3")),
      AddColumnEvent(a, Seq((StructField("col3", StringType), ColumnPosition.Last))),
      RenameColumnEvent(a, Map("col2" -> "newCol2", "col3" -> "newCol3")),
      DropColumnEvent(a, Seq("newCol2")),
      DataChangeEvent.delete(a, Row("1", "1")),
      DataChangeEvent.update(a, Row("2", "2"), Row("2", "x")))
    val pd = YamlPipelineParser.parse(
      s"""source: { type: values }
         |sink: { type: values }
         |route:
         |  - source-table: $ns.table1
         |    sink-table: $ns.routed1
         |  - source-table: $ns.table2
         |    sink-table: $ns.routed2
         |  - source-table: $ns.table\\.*
         |    sink-table: $ns.routed_all
         |pipeline: { schema.change.behavior: evolve, route-mode: $mode }
         |""".stripMargin)
    val sink = new ValuesDatabase
    new PipelineRunner(spark, pd, new ValuesSource(events), sink).run()
    sink
  }

  test("route-mode first-match: the catch-all rule never fires (testRouteModeFirstMatch)") {
    val sink = routeModeRun("first-match")
    assert(sink.results(TableId.parse(s"$ns.routed1")).sorted ===
      Seq(s"$ns.routed1:2;x", s"$ns.routed1:3;null"))
    assert(sink.results(TableId.parse(s"$ns.routed2")).sorted ===
      Seq(s"$ns.routed2:1;1", s"$ns.routed2:2;2", s"$ns.routed2:3;3"))
    assert(sink.info(TableId.parse(s"$ns.routed_all")).isEmpty)
  }

  test("route-mode all-match: the catch-all rule receives every table (testRouteModeAllMatch)") {
    val sink = routeModeRun("all-match")
    assert(sink.results(TableId.parse(s"$ns.routed1")).sorted ===
      Seq(s"$ns.routed1:2;x", s"$ns.routed1:3;null"))
    assert(sink.results(TableId.parse(s"$ns.routed2")).sorted ===
      Seq(s"$ns.routed2:1;1", s"$ns.routed2:2;2", s"$ns.routed2:3;3"))
    assert(sink.results(TableId.parse(s"$ns.routed_all")).nonEmpty)
  }
}
