package graft.sources

import graft.SparkTestBase

/** FIELD-ID schema evolution (r16 VERDICT #2): before round 17 the lake
  * layer versioned data but not schemas — evolution was name-based parquet
  * `mergeSchema`, so a rename read as drop+add and a dropped-then-re-added
  * column resurrected old values. These tests pin the Iceberg-class
  * semantics the field ids buy:
  *
  *  1. rename keeps the field id — OLD files (written under the old
  *     physical name) still resolve to the renamed column;
  *  2. drop+re-add allocates a FRESH id — old files read NULL for the
  *     re-added name, never the dropped column's values;
  *  3. schemas ride every commit (including txn appends), time travel
  *     reads each version under ITS schema, and vacuum keeps schema
  *     resolution intact for retained versions.
  */
class SchemaEvolutionSpec extends SparkTestBase {
  import spark.implicits._
  import SnapshotTable._

  private def tmp(): String =
    tempDir("graft-evo")

  test("rename keeps the field id: old files read under the new name") {
    val t = tmp()
    val v1df = Seq((1L, 2000, 10.0), (2L, 2001, 20.0))
      .toDF("id", "year", "price")
    commitOverwrite(v1df, t, Seq("year"))
    assert(schemaOf(t).get.map(f => (f.id, f.name)) ==
      Seq((1, "id"), (2, "year"), (3, "price")))
    evolveSchema(t, Seq(RenameColumn("price", "amount")))
    // new-name column carries the OLD files' values (same field id)
    val out = readSnapshot(spark, t, allowSchemaEvolution = true)
      .orderBy("id").collect()
    assert(out.map(_.getAs[Double]("amount")).toSeq == Seq(10.0, 20.0))
    // an append AFTER the rename writes under the new physical name and
    // still lands on the same field id
    commitAppend(Seq((3L, 2000, 30.0)).toDF("id", "year", "amount"),
      t, Seq("year"))
    val all = readSnapshot(spark, t, allowSchemaEvolution = true)
      .orderBy("id").collect()
    assert(all.map(_.getAs[Double]("amount")).toSeq == Seq(10.0, 20.0, 30.0))
    assert(schemaOf(t).get.find(_.name == "amount").get.id == 3)
  }

  test("drop then re-add reads NULL from old files (fresh field id)") {
    val t = tmp()
    commitOverwrite(
      Seq((1L, 2000, "keep-me"), (2L, 2001, "me-too")).toDF("id", "year", "tag"),
      t, Seq("year"))
    val idBefore = schemaOf(t).get.find(_.name == "tag").get.id
    evolveSchema(t, Seq(DropColumn("tag")))
    // dropped: evolution-aware read no longer has the column
    assert(!readSnapshot(spark, t, allowSchemaEvolution = true)
      .columns.contains("tag"))
    evolveSchema(t, Seq(AddColumn("tag", "string")))
    val idAfter = schemaOf(t).get.find(_.name == "tag").get.id
    assert(idAfter != idBefore, "re-added column must get a fresh field id")
    // old files must NOT resurrect their dropped values
    val out = readSnapshot(spark, t, allowSchemaEvolution = true)
      .orderBy("id").collect()
    assert(out.forall(_.isNullAt(out.head.fieldIndex("tag"))))
    // a post-re-add append's values DO surface
    commitAppend(Seq((3L, 2000, "new-val")).toDF("id", "year", "tag"),
      t, Seq("year"))
    val mixed = readSnapshot(spark, t, allowSchemaEvolution = true)
      .orderBy("id").collect()
    assert(mixed.map(r => Option(r.getAs[String]("tag"))).toSeq ==
      Seq(None, None, Some("new-val")))
  }

  test("time travel reads each version under ITS schema") {
    val t = tmp()
    commitOverwrite(Seq((1L, 2000, 5.0)).toDF("id", "year", "price"),
      t, Seq("year"))
    evolveSchema(t, Seq(RenameColumn("price", "amount"),
      AddColumn("note", "string")))
    val v1 = readSnapshot(spark, t, Some(1L), allowSchemaEvolution = true)
    val v2 = readSnapshot(spark, t, Some(2L), allowSchemaEvolution = true)
    assert(v1.columns.toSeq == Seq("id", "year", "price"))
    assert(v2.columns.toSeq == Seq("id", "year", "amount", "note"))
    assert(v2.head().getAs[Double]("amount") == 5.0)
    assert(v2.head().isNullAt(3))
  }

  test("new df columns on append are auto-added with fresh ids") {
    val t = tmp()
    commitOverwrite(Seq((1L, 2000)).toDF("id", "year"), t, Seq("year"))
    commitAppend(Seq((2L, 2000, 0.5)).toDF("id", "year", "score"),
      t, Seq("year"))
    val sch = schemaOf(t).get
    assert(sch.map(_.name) == Seq("id", "year", "score"))
    assert(sch.map(_.id) == Seq(1, 2, 3))
    val out = readSnapshot(spark, t, allowSchemaEvolution = true)
      .orderBy("id").collect()
    assert(Option(out(0).get(out(0).fieldIndex("score"))).isEmpty)
    assert(out(1).getAs[Double]("score") == 0.5)
  }

  test("partition and pending-delete-key columns are protected") {
    val t = tmp()
    commitOverwrite(Seq((1L, 2000, 1.0)).toDF("id", "year", "price"),
      t, Seq("year"))
    intercept[IllegalArgumentException] {
      evolveSchema(t, Seq(RenameColumn("year", "yr")))
    }
    intercept[IllegalArgumentException] {
      evolveSchema(t, Seq(DropColumn("year")))
    }
    commitDeleteByKeys(t, Seq(1L).toDF("id"), Seq("id"))
    intercept[IllegalArgumentException] {
      evolveSchema(t, Seq(RenameColumn("id", "key")))
    }
    // invalid ops fail loudly too
    intercept[IllegalArgumentException] {
      evolveSchema(t, Seq(RenameColumn("nope", "x")))
    }
    intercept[IllegalArgumentException] {
      evolveSchema(t, Seq(AddColumn("price", "double"))) // exists
    }
  }

  test("MoR delete keyed on a POST-rename name anti-joins pre-rename " +
       "files by field id (review r17 #2)") {
    val t = tmp()
    commitOverwrite(Seq((1L, 2000, "x"), (2L, 2000, "y"), (3L, 2001, "z"))
      .toDF("a", "year", "payload"), t, Seq("year"))
    evolveSchema(t, Seq(RenameColumn("a", "b")))
    // keys under the NEW name against files whose physical column is 'a'
    commitDeleteByKeys(t, Seq(2L).toDF("b"), Seq("b"))
    val out = readSnapshot(spark, t, allowSchemaEvolution = true)
      .select("b").as[Long].collect().sorted.toSeq
    assert(out == Seq(1L, 3L), s"delete under renamed key must bite: $out")
    // and rewriteDeletes resolves the same link
    val v = rewriteDeletes(spark, t, Seq("year"))
    assert(readSnapshot(spark, t, Some(v), allowSchemaEvolution = true)
      .select("b").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("followChanges initial load works on an evolved table (review r17 #3)") {
    val t = tmp()
    commitOverwrite(Seq((1L, 2000, 5.0)).toDF("id", "year", "price"),
      t, Seq("year"))
    evolveSchema(t, Seq(RenameColumn("price", "amount"),
      AddColumn("note", "string")))
    commitAppend(Seq((2L, 2000, 7.0, "n")).toDF("id", "year", "amount", "note"),
      t, Seq("year"))
    val wm = tempDir("graft-evo-wm") + "/wm"
    var got: Seq[(Long, Double)] = Nil
    followChanges(spark, t, wm) { (df, _, _) =>
      got = df.select("id", "amount").as[(Long, Double)].collect().sorted.toSeq
    }
    assert(got == Seq((1L, 5.0), (2L, 7.0)))
  }

  test("WidenColumn promotes losslessly; illegal widenings refuse") {
    val t = tmp()
    commitOverwrite(Seq((1, 2000, 3.5f)).toDF("id", "year", "score"),
      t, Seq("year"))
    assert(schemaOf(t).get.map(_.dataType) == Seq("int", "year" match {
      case _ => "int"
    }, "float"))
    evolveSchema(t, Seq(WidenColumn("id", "bigint"),
      WidenColumn("score", "double")))
    // append values only representable in the WIDENED types
    commitAppend(Seq((5000000000L, 2000, 1.25e40))
      .toDF("id", "year", "score"), t, Seq("year"))
    val out = readSnapshot(spark, t, allowSchemaEvolution = true)
      .orderBy("id").collect()
    assert(out.map(_.getAs[Long]("id")).toSeq == Seq(1L, 5000000000L))
    assert(out.head.getAs[Double]("score") == 3.5)
    assert(out(1).getAs[Double]("score") == 1.25e40)
    intercept[RuntimeException] {
      evolveSchema(t, Seq(WidenColumn("id", "int"))) // narrowing
    }
    intercept[RuntimeException] {
      evolveSchema(t, Seq(WidenColumn("score", "string"))) // not numeric widening
    }
  }

  test("changes() diffs correctly across a rename inside the range") {
    val t = tmp()
    commitOverwrite(Seq((1L, 2000, 5.0), (2L, 2001, 7.0))
      .toDF("id", "year", "price"), t, Seq("year"))
    evolveSchema(t, Seq(RenameColumn("price", "amount"))) // v2: no rows
    commitAppend(Seq((3L, 2000, 9.0)).toDF("id", "year", "amount"),
      t, Seq("year")) // v3
    val ch = changes(spark, t, 1L, 3L)
      .select("_change_type", "id", "amount").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    // only the appended row changed; it surfaces under the CURRENT name
    assert(ch == Seq(("insert", 3L, 9.0)))
    // a range ending AT the evolution commit is a no-op diff
    assert(changes(spark, t, 1L, 2L).count() == 0L)
  }

  test("schema survives txn appends, compaction, and vacuum") {
    val t = tmp()
    commitOverwrite(Seq((1L, 2000, 1.0)).toDF("id", "year", "price"),
      t, Seq("year"))
    evolveSchema(t, Seq(RenameColumn("price", "amount")))
    commitAppendTxn(Seq((2L, 2000, 2.0)).toDF("id", "year", "amount"),
      t, Seq("year"), txnId = "b-1")
    // replayed txn: no-op, schema unchanged
    commitAppendTxn(Seq((2L, 2000, 2.0)).toDF("id", "year", "amount"),
      t, Seq("year"), txnId = "b-1")
    assert(schemaOf(t).get.map(_.name) == Seq("id", "year", "amount"))
    compact(spark, t, Seq("year"))
    vacuum(spark, t, keepSnapshots = 1, minAgeMs = 0)
    val out = readSnapshot(spark, t, allowSchemaEvolution = true)
      .orderBy("id").collect()
    assert(out.map(_.getAs[Double]("amount")).toSeq == Seq(1.0, 2.0))
  }
}
