package graft.sink

import java.nio.file.Files

import graft.plans.RangeStats
import graft.template.PartitionField
import org.scalacheck.{Gen, Prop, Properties}

/** Every metadata file the engine writes goes through [[MetadataJson]]'s
  * writer and parser — exactly the kind of code a round-trip property
  * should guard: any writable snapshot list, ref list, property map,
  * range sidecar or partition spec must parse back IDENTICALLY, including
  * paths/partitions/names containing quotes, backslashes, brackets,
  * control characters and unicode.
  */
object MetadataRoundTripProps extends Properties("SnapshotMetadata") {

  // path-ish strings incl. the characters the escaper must handle
  private val trickyStr: Gen[String] = for {
    base <- Gen.listOfN(6, Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf(
        '/', '_', '-', '=', '.', '"', '\\', ' ', 'é',
        '[', ']', '{', '}', ',', ':', '\n', '\t')))
  } yield base.mkString

  private val genDelete: Gen[EqualityDelete] = for {
    dir <- trickyStr
    keys <- Gen.nonEmptyListOf(Gen.identifier.map(_.take(8))).map(_.take(3))
    applies <- Gen.listOf(trickyStr).map(_.take(3))
  } yield EqualityDelete(dir, keys, applies)

  private val genSnapshot: Gen[Snapshot] = for {
    id <- Gen.choose(1L, 1000L)
    ts <- Gen.choose(0L, 4102444800000L)
    op <- Gen.oneOf("overwrite", "append", "replace", "overwrite_partitions", "delete")
    dirs <- Gen.nonEmptyListOf(trickyStr).map(_.take(4))
    format <- Gen.oneOf("parquet", "orc")
    rows <- Gen.oneOf(Gen.const(-1L), Gen.choose(0L, 1000000L))
    staged <- Gen.oneOf(true, false)
    masked <- Gen.mapOf(Gen.zip(
      Gen.oneOf(dirs), Gen.nonEmptyListOf(trickyStr).map(_.take(2)))).map(_.take(2))
    dels <- Gen.listOf(genDelete).map(_.take(2))
    parent <- Gen.oneOf(Gen.const(None), Gen.choose(0L, 1000L).map(Some(_)))
    cols <- Gen.listOf(for {
      cid <- Gen.choose(1, 50)
      name <- trickyStr
      tpe <- Gen.oneOf("BIGINT", "STRING", "DOUBLE", "DECIMAL(18,2)", "ARRAY<FLOAT>")
    } yield TableColumn(cid, name, tpe)).map(_.take(4))
    summary <- Gen.mapOf(Gen.zip(
      trickyStr.suchThat(_.nonEmpty), trickyStr)).map(_.take(3))
  } yield Snapshot(id, ts, op, dirs, format, rows, masked, staged, dels, parent,
    cols, lastColumnId = cols.map(_.id).maxOption.getOrElse(0),
    summary = summary)

  property("write -> parse round-trips every field bit-exactly") =
    Prop.forAll(Gen.nonEmptyListOf(genSnapshot).map(_.take(5))) { snaps0 =>
      // ids must be unique and ordered (the table invariant the writer
      // always holds); empty masks are normalized away by the writer
      val snaps = snaps0.zipWithIndex.map { case (s, i) =>
        s.copy(id = i + 1L, maskedDirs = s.maskedDirs.filter(_._2.nonEmpty))
      }
      val root = Files.createTempDirectory("graft_meta_prop").toString
      val t = new SnapshotTable(root, "ns.prop")
      t.writeMetadata(snaps)
      val back = t.snapshots
      Prop(back == snaps) :| s"expected:\n$snaps\ngot:\n$back"
    }

  // refs.json shares the hand-rolled-JSON risk profile: ref names are
  // user-chosen strings (quotes, backslashes, unicode included)
  property("refs write -> parse round-trips, names escaped") =
    Prop.forAll(Gen.listOf(Gen.zip(
      trickyStr.suchThat(_.nonEmpty),
      Gen.oneOf("branch", "tag"),
      Gen.choose(1L, 1000L))).map(_.take(5))) { rs0 =>
      val rs = rs0.zipWithIndex.map { case ((n, k, id), i) =>
        TableRef(s"$i$n", k, id) // unique names, the store invariant
      }
      val root = Files.createTempDirectory("graft_refs_prop").toString
      val t = new SnapshotTable(root, "ns.prop")
      t.writeMetadata(Seq(Snapshot(1L, 0L, "overwrite", Seq("d"))))
      rs.foreach(r =>
        if (r.kind == "branch") t.createBranch(r.name, at = Some(1L))
        else t.createTag(r.name, at = Some(1L)))
      val back = t.refs
      Prop(back.map(r => (r.name, r.kind)) == rs.map(r => (r.name, r.kind))) :|
        s"expected:\n$rs\ngot:\n$back"
    }

  property("table properties round-trip, keys and values escaped") =
    Prop.forAll(Gen.mapOf(Gen.zip(trickyStr.suchThat(_.nonEmpty), trickyStr))) { props =>
      val root = Files.createTempDirectory("graft_props_prop").toString
      val t = new SnapshotTable(root, "ns.prop")
      t.setProperties(props)
      val back = t.properties
      Prop(back == props) :| s"expected:\n$props\ngot:\n$back"
    }

  property("range sidecar round-trips names and min/max bounds") =
    Prop.forAll(Gen.choose(-1L, 1000000L), Gen.listOf(for {
      name <- trickyStr
      nulls <- Gen.choose(0L, 1000L)
      mn <- Gen.option(trickyStr)
      mx <- Gen.option(trickyStr)
    } yield name -> RangeStats.ColRange(nulls, mn, mx)).map(_.toMap.toSeq.take(4))) {
      (rows, entries) =>
        val stats = RangeStats.DirStats(rows, entries.toMap)
        val back = RangeStats.parse(MetadataJson.parse(MetadataJson.render(RangeStats.render(stats))))
        Prop(back.contains(stats)) :| s"expected:\n$entries\ngot:\n$back"
    }

  property("partition spec round-trips column names") =
    Prop.forAll(Gen.nonEmptyListOf(for {
      column <- trickyStr.suchThat(_.nonEmpty)
      (transform, n) <- Gen.oneOf(("identity", 0), ("day", 0), ("bucket", 16), ("truncate", 4))
    } yield PartitionField(column, transform, n)).map(_.take(3))) { spec =>
      val root = Files.createTempDirectory("graft_pspec_prop").toString
      DeclaredPartitionSpec.write(root, spec)
      val back = DeclaredPartitionSpec.read(root)
      Prop(back == spec) :| s"expected:\n$spec\ngot:\n$back"
    }
}
