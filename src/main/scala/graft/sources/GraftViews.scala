package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets
import java.util.Properties

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path => HadoopPath}
import org.apache.spark.sql.connector.catalog.{Identifier, View}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.operators.TableFormat

/** Persistent SQL views for the graft catalog (r12).
  *
  * A view is a `_VIEW` file inside the identifier's warehouse directory —
  * the same addressing as tables (which are recognized by `_CURRENT`), so
  * a path is unambiguously a table, a view, or free. The file is a
  * java.util.Properties document (deterministic escaping for arbitrary
  * SQL text, schema JSON, and property values — no hand-rolled JSON):
  *
  * {{{
  * sql   = the stored view text, exactly as the user wrote it
  * cat   = catalog current at CREATE VIEW time  (resolution context)
  * ns.N  = namespace parts current at CREATE VIEW time
  * schema= StructType JSON of the view's OUTPUT (aliases applied)
  * qcn.N = column names the stored query produced at create time
  * als.N = user column aliases (absent => qcn are the output names)
  * cmt.N = per-column comments ("" = none)
  * p.<k> = user view properties
  * }}}
  *
  * The resolution context (cat/ns) is what makes the stored text stable:
  * relative table names are qualified against it at READ time
  * ([[graft.plans.ResolveGraftViews]]), so a view keeps meaning the same
  * tables no matter which catalog/namespace the reader is sitting in —
  * the Iceberg/Delta view-metadata model re-derived for this format.
  *
  * Writes are atomic via temp-file + rename: CREATE is put-if-absent
  * (rename fails if `_VIEW` appeared concurrently), REPLACE is
  * last-writer-wins over an existing file — the same publication
  * discipline as the table manifests.
  */
object GraftViews {

  val FILE = "_VIEW"

  case class Desc(
      sql: String,
      currentCatalog: String,
      currentNamespace: Seq[String],
      schemaJson: String,
      queryColumnNames: Seq[String],
      columnAliases: Seq[String],
      columnComments: Seq[String],
      properties: Map[String, String],
      ver: Int = 1) {
    def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
  }

  private def indexed(p: Properties, prefix: String, vs: Seq[String]): Unit =
    vs.zipWithIndex.foreach { case (v, i) => p.setProperty(s"$prefix.$i", v) }

  private def readIndexed(p: Properties, prefix: String): Seq[String] = {
    Iterator.from(0)
      .map(i => Option(p.getProperty(s"$prefix.$i")))
      .takeWhile(_.isDefined)
      .map(_.get)
      .toSeq
  }

  def encode(d: Desc): Array[Byte] = {
    val p = new Properties()
    p.setProperty("ver", d.ver.toString)
    p.setProperty("sql", d.sql)
    p.setProperty("cat", d.currentCatalog)
    indexed(p, "ns", d.currentNamespace)
    p.setProperty("schema", d.schemaJson)
    indexed(p, "qcn", d.queryColumnNames)
    indexed(p, "als", d.columnAliases)
    indexed(p, "cmt", d.columnComments)
    d.properties.foreach { case (k, v) => p.setProperty(s"p.$k", v) }
    val bos = new ByteArrayOutputStream()
    p.store(bos, "graft view")
    bos.toByteArray
  }

  def decode(bytes: Array[Byte]): Desc = {
    val p = new Properties()
    p.load(new ByteArrayInputStream(bytes))
    val props = p.stringPropertyNames().asScala.toSeq
      .filter(_.startsWith("p."))
      .map(k => k.stripPrefix("p.") -> p.getProperty(k))
      .toMap
    Desc(
      sql = p.getProperty("sql"),
      currentCatalog = p.getProperty("cat"),
      currentNamespace = readIndexed(p, "ns"),
      schemaJson = p.getProperty("schema"),
      queryColumnNames = readIndexed(p, "qcn"),
      columnAliases = readIndexed(p, "als"),
      columnComments = readIndexed(p, "cmt"),
      properties = props,
      ver = Option(p.getProperty("ver")).map(_.toInt).getOrElse(1))
  }

  /** Write `dir/_VIEW`. `overwrite=false` is put-if-absent (atomic via
    * temp + rename) publishing VERSION 1; `overwrite=true` ARCHIVES the
    * replaced descriptor as `_VIEW.v<oldVer>`, CLAIMS the next version
    * slot `_VIEW.v<oldVer+1>` put-if-absent — the same compare-and-swap
    * discipline as the table manifests: two concurrent REPLACEs from
    * the same parent cannot both win the slot, the loser throws instead
    * of silently erasing the winner's definition — and then swaps the
    * `_VIEW` pointer. The SLOT is the commit; the pointer is derived
    * state: [[read]]/[[exists]] fall back to the newest slot, so a
    * replace that crashed (or lost a pointer race) after its slot claim
    * is still fully committed and reads heal. Every definition a view
    * ever had stays addressable ([[readVersion]]), the Iceberg
    * versioned-view-metadata model. The caller's `d.ver` is ignored;
    * versioning is the store's. Returns false if a put-if-absent CREATE
    * lost. */
  def write(fs: FileSystem, dir: String, d: Desc, overwrite: Boolean): Boolean = try {
    val target = new HadoopPath(dir, FILE)
    if (!overwrite && exists(fs, dir)) return false
    fs.mkdirs(new HadoopPath(dir))
    val prior = if (overwrite) read(fs, dir) else None
    val versioned = d.copy(ver = prior.map(_.ver + 1).getOrElse(1))
    val bytes = encode(versioned)
    if (overwrite) {
      // archive the replaced definition under its own version — atomic
      // put-if-absent; losing the race is fine (concurrent archivers
      // write IDENTICAL bytes, and a crashed replace re-archives
      // idempotently)
      prior.foreach { old =>
        TableFormat.putIfAbsent(fs, new HadoopPath(dir, s"$FILE.v${old.ver}"),
          encode(old), ".tmp-")
        ()
      }
      // the new version SLOT is the CAS: temp-write + dst-must-not-exist
      // rename (FileContext.rename with no OVERWRITE flag is the atomic
      // put-if-absent — `create(overwrite=false)` on a local FS is a
      // check-then-create race; same device as the manifest CAS)
      val slot = new HadoopPath(dir, s"$FILE.v${versioned.ver}")
      if (!TableFormat.putIfAbsent(fs, slot, bytes, ".tmp-"))
        throw new IllegalStateException(
          s"graft views: concurrent REPLACE on $dir — version " +
            s"${versioned.ver} was already claimed; re-read and retry")
      // pointer publish: BEST EFFORT — the slot claim above IS the
      // commit; a crash or race in this window only costs readers the
      // pointer fast path (read() serves the newest slot regardless)
      try {
        val tmp = new HadoopPath(dir, s"$FILE.tmp-${java.util.UUID.randomUUID()}")
        val out = fs.create(tmp, true)
        try out.write(bytes) finally out.close()
        fs.delete(target, false)
        if (!fs.rename(tmp, target)) fs.delete(tmp, false)
      } catch { case _: java.io.IOException => () }
      true
    } else {
      // CREATE: sweep only TMP debris (never version slots — a slot
      // without a pointer is a COMMITTED crashed replace, which the
      // exists() check above already refused on), then the pointer
      // itself is the put-if-absent slot for version 1
      val d0 = new HadoopPath(dir)
      if (fs.exists(d0)) fs.listStatus(d0).toSeq
        .filter(_.getPath.getName.startsWith(s"$FILE.tmp-"))
        .foreach(s => fs.delete(s.getPath, false))
      TableFormat.putIfAbsent(fs, target, bytes, ".tmp-")
    }
    // AFTER the mutation (not before): an early invalidate would let a
    // concurrent probe re-cache the pre-write answer for a full TTL
  } finally invalidate(dir)

  private def readFile(fs: FileSystem, f: HadoopPath): Option[Desc] = {
    if (!fs.exists(f)) return None
    val in = fs.open(f)
    try {
      val bos = new ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      Some(decode(bos.toByteArray))
    } finally in.close()
  }

  /** Version numbers of all claimed slots in `dir`, ascending. */
  private def slotVersions(fs: FileSystem, dir: String): Seq[Int] = {
    val d = new HadoopPath(dir)
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).toSeq
      .map(_.getPath.getName)
      .filter(_.matches(s"\\Q$FILE\\E\\.v\\d+"))
      .map(_.stripPrefix(s"$FILE.v").toInt)
      .sorted
  }

  /** Read a SPECIFIC definition version: the newest slot/pointer, or an
    * archived `_VIEW.v<n>`. */
  def readVersion(fs: FileSystem, dir: String, v: Int): Option[Desc] =
    readFile(fs, new HadoopPath(dir, s"$FILE.v$v"))
      .orElse(readFile(fs, new HadoopPath(dir, FILE)).filter(_.ver == v))

  /** All definition versions, oldest first (version slots + current;
    * the current version may exist as both the pointer and its own CAS
    * slot — dedup by version number). */
  def history(fs: FileSystem, dir: String): Seq[Desc] = {
    val slots = slotVersions(fs, dir)
      .flatMap(v => readFile(fs, new HadoopPath(dir, s"$FILE.v$v")))
    val cur = readFile(fs, new HadoopPath(dir, FILE)).toSeq
    (slots ++ cur).groupBy(_.ver).map(_._2.head).toSeq.sortBy(_.ver)
  }

  /** Current definition: the newest VERSION SLOT when one is ahead of
    * (or survives without) the `_VIEW` pointer — the slot CAS is the
    * commit, the pointer a read-path cache; a replace that crashed
    * between claim and swap is therefore still fully committed, the
    * same pointer-self-heal discipline as the table manifests. */
  def read(fs: FileSystem, dir: String): Option[Desc] = {
    val ptr = readFile(fs, new HadoopPath(dir, FILE))
    val newest = slotVersions(fs, dir).lastOption
    newest match {
      case Some(v) if ptr.forall(_.ver < v) =>
        readFile(fs, new HadoopPath(dir, s"$FILE.v$v")).orElse(ptr)
      case _ => ptr
    }
  }

  /** A view exists if its pointer OR any committed slot does. */
  def exists(fs: FileSystem, dir: String): Boolean =
    fs.exists(new HadoopPath(dir, FILE)) || slotVersions(fs, dir).nonEmpty

  /** Existence cache (r13, VERDICT r12 perf): the analyzer's view rules
    * probe existence for EVERY graft-resolvable relation in EVERY
    * resolution round — on an object store that's one round-trip per
    * probe per query. Both outcomes cache with a caller-supplied TTL.
    * The cache lives HERE, not on a catalog instance, so every mutation
    * path invalidates it in one place — catalog SPI DDL, MV
    * publish/drop, and restore_view's direct [[write]] all stay
    * coherent in-process; cross-process DDL becomes visible within the
    * TTL (the same trade Spark's own FileStatusCache makes). Keyed by
    * the view directory string (one canonical spelling per view — the
    * warehouse-prefixed table path everywhere). */
  private val existsCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Boolean, Long)]()
  private[graft] def invalidate(dir: String): Unit = existsCache.remove(dir)

  def existsCached(fs: FileSystem, dir: String, ttlMs: Long): Boolean = {
    if (ttlMs <= 0L) return exists(fs, dir)
    val now = System.nanoTime()
    val hit = existsCache.get(dir)
    if (hit != null && now - hit._2 < ttlMs * 1000000L) hit._1
    else {
      val v = exists(fs, dir)
      existsCache.put(dir, (v, now))
      v
    }
  }

  def drop(fs: FileSystem, dir: String): Boolean = try {
    val d = new HadoopPath(dir)
    val hadPointer = fs.delete(new HadoopPath(dir, FILE), false)
    var hadSlots = false
    if (fs.exists(d)) {
      // the view identity is gone: its version slots go with it (a
      // pointer-less crashed replace still counts as an existing view)
      fs.listStatus(d).toSeq
        .filter(_.getPath.getName.matches(s"\\Q$FILE\\E\\.v\\d+"))
        .foreach { s => hadSlots = true; fs.delete(s.getPath, false) }
      // reclaim the directory if view files were its only VISIBLE
      // content — recursive, because ChecksumFileSystem leaves hidden
      // .crc siblings that a non-recursive delete trips over
      if ((hadPointer || hadSlots) && fs.listStatus(d).isEmpty) {
        try { fs.delete(d, true); () }
        catch { case _: java.io.IOException => () }
      }
    }
    hadPointer || hadSlots
  } finally invalidate(dir)

  /** Move a view (current + archives) to a new directory — rename's
    * storage half. The target must have been checked free. */
  def moveAll(fs: FileSystem, fromDir: String, toDir: String): Unit = try {
    fs.mkdirs(new HadoopPath(toDir))
    val from = new HadoopPath(fromDir)
    fs.listStatus(from).toSeq
      .filter { s =>
        val n = s.getPath.getName
        n == FILE || n.matches(s"\\Q$FILE\\E\\.v\\d+")
      }
      .foreach(s => fs.rename(s.getPath, new HadoopPath(toDir, s.getPath.getName)))
    if (fs.exists(from) && fs.listStatus(from).isEmpty) {
      try { fs.delete(from, true); () } // recursive: hidden .crc siblings
      catch { case _: java.io.IOException => () }
    }
  } finally { invalidate(fromDir); invalidate(toDir) }
}

/** Connector [[View]] over a stored [[GraftViews.Desc]]. */
class GraftView(ident: Identifier, catalogName: String, d: GraftViews.Desc) extends View {
  override def name(): String =
    (catalogName +: ident.namespace.toSeq :+ ident.name).mkString(".")
  override def query(): String = d.sql
  override def currentCatalog(): String = d.currentCatalog
  override def currentNamespace(): Array[String] = d.currentNamespace.toArray
  override def schema(): StructType = d.schema
  override def queryColumnNames(): Array[String] = d.queryColumnNames.toArray
  override def columnAliases(): Array[String] =
    (if (d.columnAliases.nonEmpty) d.columnAliases else d.queryColumnNames).toArray
  override def columnComments(): Array[String] = d.columnComments.toArray
  override def properties(): java.util.Map[String, String] = d.properties.asJava
  private[graft] def desc: GraftViews.Desc = d
}
