package graft.catalog

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.sink.MetadataJson
import graft.sink.MetadataJson.{JStr, obj, strObj, strs}
import org.apache.spark.sql.connector.catalog.{Identifier, View}
import org.apache.spark.sql.types.{DataType, StructType}

/** Persistence for SAVED VIEWS (named queries) — the reference
  * pre-provisions its user-facing entry points as named Athena queries
  * over the lakehouse (`aws/modules/athena/main.tf:26-67`: DDL plus the
  * time-travel/metadata listings users actually run). The engine's
  * equivalent is `CREATE VIEW graft.ns.v AS SELECT ...` persisted as a
  * metadata sidecar, so the saved query survives the session and any
  * catalog reload.
  *
  * Layout: one JSON file per view at `warehouse/_views/<ns>.<name>.json`
  * (tables own `warehouse/<ns>.<name>/` directories — the `_views` dir
  * can never collide with a table root). Writes go through
  * [[MetadataJson.write]], the same crash-safe temp-file publish as
  * the snapshot commit protocol. A view is TEXT, not data: reads
  * re-expand the stored SQL against the current table state (the stored
  * schema records the creation-time shape for listings and column
  * aliasing).
  */
object GraftViewStore {

  /** Everything a stored view carries. `currentCatalog`/
    * `currentNamespace` are the name-resolution context captured at
    * creation: BARE table names in the view body resolve there (the
    * view's own catalog + namespace — the same scoping a saved Athena
    * query gets from its workgroup database).
    */
  final case class StoredView(
      namespace: String,
      name: String,
      sql: String,
      currentCatalog: String,
      currentNamespace: Seq[String],
      schemaJson: String,
      queryColumnNames: Seq[String],
      columnAliases: Seq[String],
      properties: Map[String, String]) {
    def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
  }

  private def viewsDir(warehouse: String): Path = Paths.get(warehouse, "_views")

  /** Percent-encodes every char outside [A-Za-z0-9_-] — including '.',
    * '/', '\' and path-traversal sequences — so a backquoted view name
    * can neither escape the _views directory nor collide across
    * namespaces (ns='a', name='b.c' vs ns='a.b', name='c' encode
    * differently because the in-segment dots are escaped while the
    * single separator dot is not).
    */
  private def encSeg(s: String): String = s.flatMap {
    case c if (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '_' || c == '-' => c.toString
    case c => c.toString.getBytes("UTF-8").map(b => f"%%${b & 0xff}%02X").mkString
  }

  private def decSeg(s: String): String = {
    def hex(c: Char): Boolean =
      (c >= '0' && c <= '9') || (c >= 'A' && c <= 'F') || (c >= 'a' && c <= 'f')
    val bytes = scala.collection.mutable.ArrayBuffer.empty[Byte]
    var i = 0
    while (i < s.length) {
      // only a well-formed %XX decodes; a bare '%' (a sidecar written
      // before the encoder existed, or a foreign file) passes through
      // verbatim instead of crashing the whole namespace listing
      if (s.charAt(i) == '%' && i + 3 <= s.length &&
          hex(s.charAt(i + 1)) && hex(s.charAt(i + 2))) {
        bytes += Integer.parseInt(s.substring(i + 1, i + 3), 16).toByte
        i += 3
      } else { bytes ++= s.charAt(i).toString.getBytes("UTF-8"); i += 1 }
    }
    new String(bytes.toArray, "UTF-8")
  }

  private def fileOf(warehouse: String, ident: Identifier): Path =
    viewsDir(warehouse).resolve(
      s"${encSeg(ident.namespace.head)}.${encSeg(ident.name)}.json")

  def exists(warehouse: String, ident: Identifier): Boolean =
    ident.namespace.length == 1 && Files.exists(fileOf(warehouse, ident))

  def write(warehouse: String, v: StoredView): Unit = {
    val target = fileOf(warehouse, Identifier.of(Array(v.namespace), v.name))
    Files.createDirectories(target.getParent)
    MetadataJson.write(target, obj(
      "namespace" -> JStr(v.namespace),
      "name" -> JStr(v.name),
      "sql" -> JStr(v.sql),
      "current_catalog" -> JStr(v.currentCatalog),
      "current_namespace" -> strs(v.currentNamespace),
      "schema" -> JStr(v.schemaJson),
      "query_column_names" -> strs(v.queryColumnNames),
      "column_aliases" -> strs(v.columnAliases),
      "properties" -> strObj(v.properties)))
  }

  def read(warehouse: String, ident: Identifier): Option[StoredView] =
    if (ident.namespace.length != 1) None
    // a racing drop reads as absent
    else MetadataJson.read(fileOf(warehouse, ident)).map { json =>
      val o = json.asObj
      def arr(k: String): Seq[String] = o(k).asArr.map(_.asStr)
      StoredView(
        namespace = o("namespace").asStr,
        name = o("name").asStr,
        sql = o("sql").asStr,
        currentCatalog = o("current_catalog").asStr,
        currentNamespace = arr("current_namespace"),
        schemaJson = o("schema").asStr,
        queryColumnNames = arr("query_column_names"),
        columnAliases = arr("column_aliases"),
        properties = o("properties").asObj.map { case (k, p) => k -> p.asStr })
    }

  def list(warehouse: String, namespace: String): Seq[Identifier] = {
    val dir = viewsDir(warehouse)
    if (!Files.isDirectory(dir)) return Nil
    val prefix = encSeg(namespace) + "."
    Option(dir.toFile.listFiles()).getOrElse(Array.empty)
      .map(_.getName)
      .filter(n => n.endsWith(".json") && !n.startsWith(".") && n.startsWith(prefix))
      .map(n => Identifier.of(Array(namespace),
        decSeg(n.stripPrefix(prefix).stripSuffix(".json"))))
      .toSeq.sortBy(_.name)
  }

  def delete(warehouse: String, ident: Identifier): Boolean =
    ident.namespace.length == 1 && Files.deleteIfExists(fileOf(warehouse, ident))

  def rename(warehouse: String, from: Identifier, to: Identifier): Unit = {
    val sv = read(warehouse, from).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(from))
    write(warehouse, sv.copy(namespace = to.namespace.head, name = to.name))
    delete(warehouse, from): Unit
  }
}

/** DSv2 [[View]] facade over a stored view (what `loadView` returns). */
final class GraftView(catalogName: String, v: GraftViewStore.StoredView) extends View {
  override def name(): String = s"$catalogName.${v.namespace}.${v.name}"
  override def query(): String = v.sql
  override def currentCatalog(): String = v.currentCatalog
  override def currentNamespace(): Array[String] = v.currentNamespace.toArray
  override def schema(): StructType = v.schema
  override def queryColumnNames(): Array[String] = v.queryColumnNames.toArray
  override def columnAliases(): Array[String] = v.columnAliases.toArray
  override def columnComments(): Array[String] = Array.empty
  override def properties(): java.util.Map[String, String] = v.properties.asJava
}
