package graft.cli

import graft.catalog.{Catalog, RestCatalog}
import graft.core._
import graft.spark.IcebergTables

/** CLI surface (parity with `cmd/icegopher/main.go:34-333`): catalog/table
  * inspection verbs with text or json output. Tables resolve either through
  * a REST catalog (`--uri http...` + `ns.table` identifiers) or directly
  * from a local table directory path.
  *
  * Usage:
  *   graft list --uri URI [NS]             list namespaces / tables
  *   graft location TABLE                  table location
  *   graft describe TABLE                  full metadata description
  *   graft schema TABLE                    current schema
  *   graft spec TABLE                      partition spec
  *   graft uuid TABLE                      table uuid
  *   graft files TABLE [--history]         snapshot→manifest→file tree
  *   graft snapshots TABLE                 snapshot log
  *   graft refs TABLE                      branches and tags
  *   graft properties get TABLE [KEY]      table properties
  *   graft properties set TABLE KEY VALUE  set a table property
  *   graft properties remove TABLE KEY     remove a table property
  *   graft properties get namespace NS [KEY]      namespace properties
  *   graft properties set namespace NS KEY VALUE  set a namespace property
  *   graft properties remove namespace NS KEY     remove a namespace property
  *   graft drop TABLE                      drop a table
  *   graft rename OLD NEW                  rename a table
  *   graft register TABLE METADATA_LOC     adopt an existing metadata file
  *   graft rollback TABLE SNAPSHOT_ID      move main to an earlier snapshot
  *   graft expire TABLE OLDER_MS [RETAIN]  expire snapshots + orphan files
  *
  * Mutation verbs (parity with `cmd/icegopher/main.go:160-190,272-333`,
  * where the reference panics on drop/rename — here they work): local
  * table paths mutate the filesystem/metadata directly; `ns.table`
  * identifiers go through the REST catalog.
  */
object Main {

  /** Verb failure: `main` prints + exits 2; tests intercept it. */
  final case class CliError(msg: String) extends RuntimeException(msg)

  private case class Config(uri: String = "", json: Boolean = false,
                            credential: String = "")

  def main(args: Array[String]): Unit =
    try run(args)
    catch { case CliError(msg) => System.err.println(msg); sys.exit(2) }

  private[cli] def run(args: Array[String]): Unit = {
    val (flags, pos) = args.partition(_.startsWith("--"))
    var cfg = Config()
    flags.foreach {
      case f if f.startsWith("--uri=") => cfg = cfg.copy(uri = f.stripPrefix("--uri="))
      case f if f.startsWith("--credential=") =>
        cfg = cfg.copy(credential = f.stripPrefix("--credential="))
      case "--json" => cfg = cfg.copy(json = true)
      case "--history" => // consumed by files verb below
      case other => die(s"unknown flag: $other")
    }
    val history = flags.contains("--history")

    pos.toList match {
      case "list" :: rest => listCmd(cfg, rest)
      case "location" :: id :: Nil => println(loadMeta(cfg, id).location)
      case "uuid" :: id :: Nil => println(loadMeta(cfg, id).tableUuid)
      case "schema" :: id :: Nil => println(loadMeta(cfg, id).currentSchema.repr)
      case "spec" :: id :: Nil => printSpec(loadMeta(cfg, id))
      case "describe" :: id :: Nil => describe(loadMeta(cfg, id), cfg.json)
      case "files" :: id :: Nil => files(cfg, id, history)
      case "partitions" :: id :: Nil => partitions(cfg, id)
      case "snapshots" :: id :: Nil => snapshots(loadMeta(cfg, id), cfg.json)
      case "refs" :: id :: Nil => refs(loadMeta(cfg, id))
      case "properties" :: "get" :: "namespace" :: ns :: rest =>
        namespaceProps(catalog(cfg).namespaceProperties(ns.split('.').toSeq), ns, rest)
      case "properties" :: "set" :: "namespace" :: ns :: key :: value :: Nil =>
        catalog(cfg).updateNamespaceProperties(ns.split('.').toSeq, Nil, Map(key -> value))
        println(s"set $key on namespace $ns")
      case "properties" :: "remove" :: "namespace" :: ns :: key :: Nil =>
        catalog(cfg).updateNamespaceProperties(ns.split('.').toSeq, Seq(key), Map.empty)
        println(s"removed $key from namespace $ns")
      case "properties" :: "get" :: id :: rest => properties(loadMeta(cfg, id), rest)
      case "properties" :: "set" :: id :: key :: value :: Nil =>
        setProperty(cfg, id, key, value)
      case "properties" :: "remove" :: id :: key :: Nil =>
        removeProperty(cfg, id, key)
      case "drop" :: id :: Nil => drop(cfg, id)
      case "rename" :: from :: to :: Nil => rename(cfg, from, to)
      case "register" :: id :: metaLoc :: Nil =>
        val t = catalog(cfg).registerTable(id.split('.').toSeq, metaLoc)
        println(s"registered $id -> ${t.metadataLocation}")
      case "rollback" :: id :: snap :: Nil =>
        val snapId = snap.toLongOption.getOrElse(die(s"invalid snapshot id: $snap"))
        graft.spark.TableWriter.rollbackTo(table(cfg, id), snapId)
        println(s"rolled back $id to $snap")
      case "expire" :: id :: olderThan :: rest =>
        val olderMs = olderThan.toLongOption.getOrElse(
          die(s"invalid timestamp (ms): $olderThan"))
        val retain = rest.headOption.map(r =>
          r.toIntOption.getOrElse(die(s"invalid retain count: $r"))).getOrElse(1)
        graft.spark.TableWriter.expireSnapshots(table(cfg, id), olderMs, retain,
          deleteFiles = true)
        println(s"expired snapshots of $id older than $olderThan (retain $retain)")
      case "rewrite-manifests" :: id :: Nil =>
        requireLocal(id)
        val t = IcebergTables.load(id)
        val before = t.currentSnapshot.toSeq.flatMap(s =>
          graft.core.ManifestIO.readManifestList(t.io.open(s.manifestList))).size
        val out = graft.spark.TableWriter.rewriteManifests(t)
        val after = out.currentSnapshot.toSeq.flatMap(s =>
          graft.core.ManifestIO.readManifestList(out.io.open(s.manifestList))).size
        println(s"rewrote manifests of $id: $before -> $after")
      case "changes" :: id :: rest =>
        requireLocal(id)
        val t = IcebergTables.load(id)
        val fromSeq = rest.headOption.map(r => r.toLongOption.getOrElse(
          die(s"invalid sequence number: $r"))).getOrElse(0L)
        val toSeq = t.currentSnapshot.map(_.sequenceNumber).getOrElse(0L)
        val sets = graft.streaming.Changelog.changedFilesInWindow(t, fromSeq, toSeq)
        if (cfg.json) {
          val rows = sets.map { c =>
            s"""{"snapshot_id":${c.snapshot.snapshotId},""" +
              s""""sequence":${c.snapshot.sequenceNumber},""" +
              s""""added_files":${c.addedPaths.size},""" +
              s""""removed_files":${c.removedPaths.size},""" +
              s""""new_delete_files":${c.newDeletePaths.size}}"""
          }
          println(rows.mkString("[", ",", "]"))
        } else {
          println("sequence\tsnapshot_id\tadded\tremoved\tnew_delete_files")
          sets.foreach(c => println(s"${c.snapshot.sequenceNumber}\t" +
            s"${c.snapshot.snapshotId}\t${c.addedPaths.size}\t" +
            s"${c.removedPaths.size}\t${c.newDeletePaths.size}"))
        }
      case _ => die(usage)
    }
  }

  private def namespaceProps(props: Map[String, String], ns: String,
                             rest: List[String]): Unit = rest match {
    case Nil => props.toSeq.sortBy(_._1).foreach { case (k, v) => println(s"$k\t$v") }
    case key :: Nil => props.get(key) match {
      case Some(v) => println(v)
      case None => die(s"property $key not found on namespace $ns")
    }
    case _ => die(usage)
  }

  private val usage =
    "usage: graft [--uri=URI] [--credential=ID:SECRET] [--json] " +
      "<list|location|uuid|schema|spec|describe|files|partitions|snapshots|" +
      "refs|properties|drop|rename|register|rollback|expire|" +
      "rewrite-manifests|changes> ..."

  private def requireLocal(id: String): Unit =
    if (!(id.contains("/") || id.startsWith("file:")))
      die("this verb requires a local table path")

  private def die(msg: String): Nothing = throw CliError(msg)

  private def catalog(cfg: Config): Catalog = {
    if (cfg.uri.isEmpty) die("--uri is required for catalog commands")
    val props = if (cfg.credential.nonEmpty)
      Map(RestCatalog.KeyCredential -> cfg.credential) else Map.empty[String, String]
    Catalog.load("cli", cfg.uri, props)
  }

  /** Table identifiers: a filesystem path → local table; `ns.table` → REST. */
  private def loadMeta(cfg: Config, id: String): TableMetadata =
    if (id.contains("/") || id.startsWith("file:"))
      IcebergTables.load(id).metadata
    else catalog(cfg).loadTable(id.split('.').toSeq).metadata

  private def listCmd(cfg: Config, rest: List[String]): Unit = {
    val cat = catalog(cfg)
    rest match {
      case Nil => cat.listNamespaces().foreach(ns => println(ns.mkString(".")))
      case ns :: Nil =>
        cat.listTables(ns.split('.').toSeq).foreach(t => println(t.mkString(".")))
      case _ => die(usage)
    }
  }

  private def printSpec(md: TableMetadata): Unit = {
    val spec = md.partitionSpec
    if (spec.isUnpartitioned) println("[unpartitioned]")
    else spec.fields.foreach(f =>
      println(s"${f.fieldId}: ${f.name}: ${f.transform.repr}(${f.sourceId})"))
  }

  private def describe(md: TableMetadata, json: Boolean): Unit = {
    if (json) {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val o = m.createObjectNode()
      o.put("format-version", md.formatVersion)
      o.put("location", md.location)
      o.put("table-uuid", md.tableUuid)
      o.put("last-updated-ms", md.lastUpdatedMs)
      o.put("sort-order-id", md.sortOrder.orderId)
      val spec = o.putArray("partition-spec")
      md.partitionSpec.fields.foreach(f => spec.add(f.name))
      md.currentSnapshot.foreach { s =>
        o.put("current-snapshot-id", s.snapshotId)
        o.put("current-sequence-number", s.sequenceNumber)
      }
      println(m.writeValueAsString(o))
      return
    }
    println(s"Table format version: ${md.formatVersion}")
    println(s"Metadata location:    ${md.location}")
    println(s"Table UUID:           ${md.tableUuid}")
    println(s"Last updated:         ${md.lastUpdatedMs}")
    println(s"Sort order:           ${md.sortOrder.orderId}")
    println(s"Partition spec:       ${md.partitionSpec.fields.map(_.name).mkString(", ")}")
    println("Current schema:")
    println(md.currentSchema.repr)
    md.currentSnapshot.foreach { s =>
      println(s"Current snapshot:     ${s.snapshotId} (seq ${s.sequenceNumber})")
    }
  }

  private def files(cfg: Config, id: String, history: Boolean): Unit = {
    val table = if (id.contains("/")) IcebergTables.load(id)
      else die("files verb requires a local table path in this build")
    val md = table.metadata
    val snaps = if (history) md.snapshots
      else md.currentSnapshot.toSeq
    snaps.foreach { s =>
      println(s"Snapshot ${s.snapshotId}, schema ${s.schemaId.getOrElse(0)}: " +
        s"${s.manifestList}")
      ManifestIO.readManifestList(table.io.open(s.manifestList)).foreach { m =>
        println(s"  ├── Manifest: ${m.path} (content=${m.content})")
        ManifestIO.readManifestEntries(table.io.open(m.path), m).foreach { e =>
          println(s"  │    ├── Datafile: ${e.dataFile.path} " +
            s"(${e.dataFile.recordCount} rows)")
        }
      }
    }
  }

  /** Per-partition rollup (file/record/byte/delete-file counts). CLI-side
    * this is a driver walk of the planned file set — metadata-plane, like
    * every other CLI verb; the SQL `db.t.partitions` table is the
    * distributed version of the same rollup. */
  private def partitions(cfg: Config, id: String): Unit = {
    val table = if (id.contains("/")) IcebergTables.load(id)
      else die("partitions verb requires a local table path in this build")
    val rows = table.newScan().planFiles()
      .groupBy(t => graft.spark.MetadataTables.partitionRepr(t.file.partition))
      .toSeq.sortBy(_._1)
      .map { case (part, tasks) =>
        (part, tasks.size, tasks.map(_.file.recordCount).sum,
          tasks.map(_.file.fileSizeInBytes).sum,
          tasks.map(_.deleteFiles.size).sum)
      }
    if (cfg.json) {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val arr = m.createArrayNode()
      rows.foreach { case (part, nf, nr, nb, nd) =>
        val o = arr.addObject()
        o.put("partition", part); o.put("file_count", nf)
        o.put("record_count", nr); o.put("total_size_bytes", nb)
        o.put("delete_file_count", nd)
      }
      println(m.writeValueAsString(arr))
    } else rows.foreach { case (part, nf, nr, nb, nd) =>
      val p = if (part.isEmpty) "<unpartitioned>" else part
      println(s"$p\tfiles=$nf\trows=$nr\tbytes=$nb\tdeletes=$nd")
    }
  }

  private def snapshots(md: TableMetadata, json: Boolean): Unit =
    if (json) {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val arr = m.createArrayNode()
      md.snapshots.foreach { s =>
        val o = arr.addObject()
        o.put("snapshot-id", s.snapshotId)
        o.put("timestamp-ms", s.timestampMs)
        o.put("sequence-number", s.sequenceNumber)
        s.summary.foreach(sum => o.put("operation", sum.operation.repr))
      }
      println(m.writeValueAsString(arr))
    } else md.snapshots.foreach { s =>
      val op = s.summary.map(_.operation.repr).getOrElse("")
      println(s"${s.snapshotId}\t${s.timestampMs}\tseq=${s.sequenceNumber}\t$op")
    }

  private def refs(md: TableMetadata): Unit =
    md.refs.toSeq.sortBy(_._1).foreach { case (name, r) =>
      println(s"$name\t${r.refType.repr}\t${r.snapshotId}")
    }

  private def properties(md: TableMetadata, rest: List[String]): Unit = rest match {
    case Nil => md.properties.toSeq.sortBy(_._1)
      .foreach { case (k, v) => println(s"$k\t$v") }
    case key :: Nil => md.properties.get(key) match {
      case Some(v) => println(v)
      case None => die(s"property $key not found")
    }
    case _ => die(usage)
  }

  private def isLocal(id: String): Boolean =
    id.contains("/") || id.startsWith("file:")

  private def restCatalog(cfg: Config): RestCatalog = catalog(cfg) match {
    case r: RestCatalog => r
    case _ => die("this verb requires a REST catalog for ns.table identifiers")
  }

  /** A handle on `id` bound to its catalog of record: a table path, or a
    * `ns.table` identifier whose commits go through the REST `updateTable`
    * route. */
  private def table(cfg: Config, id: String): graft.spark.IcebergTable =
    if (isLocal(id)) IcebergTables.load(id)
    else {
      val rc = restCatalog(cfg)
      graft.spark.TableWriter.restTableOf(rc.loadTable(id.split('.').toSeq), rc)
    }

  private def setProperty(cfg: Config, id: String, key: String, value: String): Unit = {
    graft.spark.TableWriter.updateProperties(table(cfg, id), Map(key -> value))
    println(s"set $key on $id")
  }

  private def removeProperty(cfg: Config, id: String, key: String): Unit = {
    val t = table(cfg, id)
    if (!t.properties.contains(key)) die(s"property $key not found")
    graft.spark.TableWriter.updateProperties(t, Map.empty, Seq(key))
    println(s"removed $key from $id")
  }

  private def drop(cfg: Config, id: String): Unit =
    if (isLocal(id)) {
      val dir = new java.io.File(id.stripPrefix("file:"))
      if (!new java.io.File(dir, "metadata").isDirectory)
        die(s"$id is not an Iceberg table")
      def rec(f: java.io.File): Unit = {
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rec)
        f.delete()
      }
      rec(dir)
      println(s"dropped $id")
    } else {
      catalog(cfg).dropTable(id.split('.').toSeq)
      println(s"dropped $id")
    }

  private def rename(cfg: Config, from: String, to: String): Unit =
    if (isLocal(from)) {
      val src = new java.io.File(from.stripPrefix("file:"))
      if (!new java.io.File(src, "metadata").isDirectory)
        die(s"$from is not an Iceberg table")
      val dst = new java.io.File(to.stripPrefix("file:"))
      if (dst.exists()) die(s"$to already exists")
      Option(dst.getParentFile).foreach(_.mkdirs())
      if (!src.renameTo(dst)) die(s"rename $from -> $to failed")
      println(s"renamed $from -> $to")
    } else {
      catalog(cfg).renameTable(from.split('.').toSeq, to.split('.').toSeq)
      println(s"renamed $from -> $to")
    }
}
