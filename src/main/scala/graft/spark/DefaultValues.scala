package graft.spark

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.{StructField, StructType}

/** Read-time materialization of V3 column defaults (`initial-default`).
  *
  * A field added to the schema AFTER a data file was written is absent from
  * that file; the V3 spec requires readers to produce the field's
  * `initial-default` for those rows — silent NULL is a wrong answer. The
  * reference declares the fields (`types.go:137-146`) but has no read path;
  * here absence is decided per data file from its own footer (parquet field
  * ids when present, historical-name candidates otherwise — the same
  * resolution order the readers use), so files that DO carry the column,
  * including ones holding genuine NULLs, are never touched.
  *
  * Scale shape: the probe reads only file footers/headers, is cached per
  * JVM, and runs executor-side inside the reader — the driver plans nothing
  * extra. Tables with no defaulted columns skip everything via the
  * [[hasInitialDefaults]] gate (one metadata scan of the schema).
  */
private[spark] object DefaultValues {

  def hasInitialDefaults(schema: StructType): Boolean =
    schema.fields.exists(_.metadata.contains(SchemaConv.InitialDefaultKey))

  /** readSchema ordinal → catalyst default value, for every top-level field
    * carrying an `initial-default` that is ABSENT from the data file. */
  def absentDefaults(readSchema: StructType, format: String,
                     path: String): Map[Int, Any] = {
    if (!hasInitialDefaults(readSchema)) return Map.empty
    val out = Map.newBuilder[Int, Any]
    readSchema.fields.zipWithIndex.foreach { case (f, i) =>
      SchemaConv.initialDefaultOf(f).foreach { case (typ, lit) =>
        if (absentFromFile(f, format, path))
          out += i -> SchemaConv.catalystDefault(typ, lit)
      }
    }
    out.result()
  }

  /** Is this top-level field missing from the data file? Parquet files with
    * field ids answer by id; everything else by the field's name candidates
    * (current name first, then historical names the id has had). */
  private def absentFromFile(f: StructField, format: String, path: String): Boolean =
    format.toUpperCase match {
      case "PARQUET" =>
        !GraftReaders.holds(GraftReaders.footerInfo(path), f, FormatReaders.candidates(f))
      case fmt =>
        !FormatReaders.candidates(f).exists(fileNames(fmt, path).contains)
    }

  // ORC/AVRO top-level column names, one header read per file per JVM
  private val nameCache =
    new java.util.concurrent.ConcurrentHashMap[String, Set[String]]()
  private val NameCacheMax = 1 << 20

  private def fileNames(format: String, path: String): Set[String] = {
    if (nameCache.size() > NameCacheMax) nameCache.clear()
    nameCache.computeIfAbsent(s"$format:$path", { _ =>
      import scala.jdk.CollectionConverters._
      format match {
        case "ORC" =>
          val r = org.apache.orc.OrcFile.createReader(new Path(path),
            org.apache.orc.OrcFile.readerOptions(new Configuration()))
          try r.getSchema.getFieldNames.asScala.toSet finally r.close()
        case "AVRO" =>
          val in = new org.apache.avro.mapred.FsInput(new Path(path),
            new Configuration())
          val r = new org.apache.avro.file.DataFileReader(in,
            new org.apache.avro.generic.GenericDatumReader[AnyRef]())
          try r.getSchema.getFields.asScala.map(_.name).toSet finally r.close()
        case other =>
          throw new IllegalArgumentException(
            s"no column probe for format '$other' ($path)")
      }
    })
  }
}
