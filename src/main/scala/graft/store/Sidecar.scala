package graft.store

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, Options, Path => HPath}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import scala.jdk.CollectionConverters._

/** Secondary-column zone-map entry (beyond the reference, Delta-style
  * data skipping): min/max of a column's non-null values in one file.
  * Either side may be absent — string minima are collected as 64-char
  * prefixes (always a valid LOWER bound: a prefix sorts ≤ the full
  * string in binary UTF-8 order), but a truncated MAXIMUM is not a
  * valid upper bound, so `max` is kept only when no value of the file
  * exceeded 64 chars. An absent side simply prunes nothing.
  */
final case class ColStat(min: Option[OrdVal], max: Option[OrdVal])

/** Per-file zone-map stats (ref base.py:58-62: file_ids / n_rows /
  * ordered_on_mins / ordered_on_maxs). `name` is relative to the dataset
  * directory; files are one row group each (ref base.py:190-197).
  * `cols` holds secondary-column min/max for data skipping (empty on
  * sidecars written before the feature — never pruned on, still valid).
  * `bytes` is the file's length, recorded when it was written (None on
  * sidecars written before the field), so a read plans without listing
  * the directory.
  */
final case class FileStat(id: Long, name: String, rows: Long,
                          min: OrdVal, max: OrdVal,
                          cols: Map[String, ColStat] = Map.empty,
                          /** Per-column HLL sketch of this file's values
                            * (base64 DataSketches compact form; see
                            * WriteOpts.sketchCols). Mergeable: the union
                            * across any file subset estimates that
                            * subset's distinct count. */
                          hll: Map[String, String] = Map.empty,
                          bytes: Option[Long] = None)

/** Dataset-level metadata: the enforced `ordered_on` column
  * (ref base.py:103-114), file stats sorted by min, a free-form kv map
  * (carries user metadata and AggStream restart state, ref
  * base.py:144-146), a monotonically increasing file-id counter, and the
  * dataset schema (Spark StructType json) so an empty dataset keeps its
  * columns.
  */
final case class DatasetMeta(orderedOn: String, orderedType: String,
                             files: Seq[FileStat], kv: Map[String, String],
                             nextFileId: Long, schemaJson: String = "",
                             generation: Long = 0L) {
  def totalRows: Long = files.map(_.rows).sum
}

/** Atomic JSON sidecar, the analog of the reference's `_opdmd` file
  * (ref metadata_filename.py:12-30, base.py:600-649). Lives *inside*
  * the dataset directory but with a `_` prefix so Spark / Hadoop / any
  * parquet reader treats it as hidden — foreign readers still work on
  * the bare directory, like the reference intends (ref base.py:192-195).
  *
  * The sidecar is the planner's source of truth: the upsert planner and
  * the intersection planner read min/max per file from here without
  * opening any parquet footer (SURVEY.md §4 zone-map row).
  *
  * All IO goes through the Hadoop FileSystem of the dataset path — the
  * same one the data files use — so non-local schemes (hdfs://, s3a://)
  * see one consistent view. The commit is create-tmp + atomic publish
  * (see [[atomicPut]]: POSIX rename on the local FS, FileContext
  * rename(OVERWRITE) on HDFS-like schemes).
  */
object Sidecar {
  val FileName = "_graftmd.json"
  /** Retained previous sidecar generations (time travel within the
    * reader grace window): `_graftmd.v<generation>.json`. */
  val VersionedRe = "_graftmd\\.v(\\d+)\\.json".r
  def versionedName(gen: Long): String = s"_graftmd.v$gen.json"
  private val mapper = new ObjectMapper()

  def path(datasetDir: String): HPath = new HPath(datasetDir, FileName)

  def exists(conf: Configuration, datasetDir: String): Boolean = {
    val p = path(datasetDir)
    p.getFileSystem(conf).exists(p)
  }

  def read(conf: Configuration, datasetDir: String): DatasetMeta =
    readPath(conf, path(datasetDir))

  /** Bounded retry for lock-free concurrent reads on checksummed
    * filesystems: FileContext.rename moves the data file and its
    * `.crc` in TWO steps on ChecksumFileSystem (the local FS), so a
    * reader can momentarily open the new `_graftmd.json` against the
    * stale checksum (ChecksumException) or a half-swapped view
    * (EOFException). The window is one rename by a lock-serialized
    * writer, so a handful of short retries always clears it; anything
    * still failing after that is real corruption and propagates.
    */
  private def readRetrying[T](body: => T): T = {
    var attempt = 0
    var last: Throwable = null
    while (attempt < 10) {
      try return body
      catch {
        case e @ (_: org.apache.hadoop.fs.ChecksumException |
                  _: java.io.EOFException) =>
          last = e; attempt += 1; Thread.sleep(20L)
      }
    }
    throw last
  }

  def readPath(conf: Configuration, p: HPath): DatasetMeta = {
    val root = readRetrying {
      val in = p.getFileSystem(conf).open(p)
      try mapper.readTree(in)
      finally in.close()
    }
    val files = root.get("files").elements().asScala.map { f =>
      val cols = Option(f.get("cols")).map { c =>
        c.properties().asScala.map { e =>
          val n = e.getValue
          e.getKey -> ColStat(
            if (n.has("mn_t")) Some(OrdVal.readFrom(n, "mn")) else None,
            if (n.has("mx_t")) Some(OrdVal.readFrom(n, "mx")) else None)
        }.toMap
      }.getOrElse(Map.empty[String, ColStat])
      val hll = Option(f.get("hll")).map { h =>
        h.properties().asScala.map(e => e.getKey -> e.getValue.asText())
          .toMap
      }.getOrElse(Map.empty[String, String])
      FileStat(f.get("id").asLong(), f.get("name").asText(),
        f.get("rows").asLong(),
        OrdVal.readFrom(f, "min"), OrdVal.readFrom(f, "max"), cols, hll,
        Option(f.get("bytes")).map(_.asLong()))
    }.toSeq
    val kv = Option(root.get("kv")).map { k =>
      k.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }.getOrElse(Map.empty)
    val schemaJson = Option(root.get("schema")).map(_.asText()).getOrElse("")
    val generation = Option(root.get("generation")).map(_.asLong())
      .getOrElse(0L)
    DatasetMeta(root.get("orderedOn").asText(),
      root.get("orderedType").asText(), files, kv,
      root.get("nextFileId").asLong(), schemaJson, generation)
  }

  /** Write-tmp-then-atomic-rename commit (the port of the reference's
    * metadata-last commit discipline, ref write.py:247-271).
    *
    * Every commit first COPIES the current sidecar to its versioned
    * name (`_graftmd.v<g>.json`) and stamps the new one `g+1` — the
    * caller's `generation` field is ignored. Retired data files
    * already outlive the swap by `retireGraceMs` for concurrent
    * readers; retaining the sidecar generations over the same window
    * turns that into addressable snapshot isolation
    * ([[OrderedDataset.dfAsOf]]). A copy, not a rename: a rename would
    * open a window with NO `_graftmd.json` for a lock-free concurrent
    * reader to trip on. Writers are serialized by the dataset write
    * lock, so the copy-then-overwrite pair cannot interleave.
    */
  def write(conf: Configuration, datasetDir: String, meta0: DatasetMeta)
      : Unit = {
    val dir0 = new HPath(datasetDir)
    val fs0 = dir0.getFileSystem(conf)
    val cur = path(datasetDir)
    val meta = if (fs0.exists(cur)) {
      val bytes = readRetrying {
        val in = fs0.open(cur)
        try {
          val buf = new java.io.ByteArrayOutputStream()
          val tmp = new Array[Byte](8192)
          var n = in.read(tmp)
          while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
          buf.toByteArray
        } finally in.close()
      }
      val g = Option(mapper.readTree(bytes).get("generation"))
        .map(_.asLong()).getOrElse(0L)
      // Archive atomically too: a time-travel reader that just watched
      // the live generation move to g+1 may immediately open the v<g>
      // snapshot — it must never catch it half-written.
      atomicPut(fs0, dir0, versionedName(g), bytes)
      meta0.copy(generation = g + 1)
    } else meta0.copy(generation = meta0.generation max 1L)
    val root = mapper.createObjectNode()
    root.put("orderedOn", meta.orderedOn)
    root.put("orderedType", meta.orderedType)
    root.put("nextFileId", meta.nextFileId)
    root.put("generation", meta.generation)
    if (meta.schemaJson.nonEmpty) root.put("schema", meta.schemaJson)
    val arr = root.putArray("files")
    meta.files.sortBy(f => (f.min, f.id)).foreach { f =>
      val n = arr.addObject()
      n.put("id", f.id); n.put("name", f.name); n.put("rows", f.rows)
      f.bytes.foreach(n.put("bytes", _))
      OrdVal.writeTo(n, "min", f.min); OrdVal.writeTo(n, "max", f.max)
      if (f.cols.nonEmpty) {
        val cn = n.putObject("cols")
        f.cols.toSeq.sortBy(_._1).foreach { case (name, st) =>
          val e = cn.putObject(name)
          st.min.foreach(v => OrdVal.writeTo(e, "mn", v))
          st.max.foreach(v => OrdVal.writeTo(e, "mx", v))
        }
      }
      if (f.hll.nonEmpty) {
        val hn = n.putObject("hll")
        f.hll.toSeq.sortBy(_._1).foreach { case (name, b64) =>
          hn.put(name, b64): Unit
        }
      }
    }
    val kvn = root.putObject("kv")
    meta.kv.foreach { case (k, v) => kvn.put(k, v) }

    val dir = new HPath(datasetDir)
    val fs = dir.getFileSystem(conf)
    fs.mkdirs(dir)
    atomicPut(fs, dir, FileName,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
  }

  /** Atomic single-file publish. On checksummed filesystems (the local
    * FS) writes through the RAW layer: the checksum layer shadows every
    * file with a `.crc`, and neither FileContext.rename (data + crc
    * move in two steps) nor its delete-then-rename OVERWRITE emulation
    * is atomic across the pair — lock-free readers caught
    * ChecksumException and even FileNotFoundException windows
    * (ConcurrencySpec). A crc-less file + java.nio ATOMIC_MOVE closes
    * both: ChecksumFileSystem reads a crc-less file without
    * verification, and the POSIX rename(2) swap is atomic. Non-file
    * schemes (HDFS, S3A) are not ChecksumFileSystems; HDFS
    * rename(OVERWRITE) is atomic on the NameNode, so the FileContext
    * path stays for them.
    */
  private def atomicPut(fs: org.apache.hadoop.fs.FileSystem, dir: HPath,
      name: String, bytes: Array[Byte]): Unit = {
    val raw = fs match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    val tmp = new HPath(dir, name + ".tmp")
    val out = raw.create(tmp, true)
    try out.write(bytes) finally out.close()
    val dst = new HPath(dir, name)
    if (raw ne fs) {
      // checksummed fs (whatever its scheme — the same condition that
      // picked the raw write above): retire any stale checksum shadows
      // from files written by older (checksummed) versions — a raw
      // overwrite would otherwise leave them mismatched forever
      raw.delete(new HPath(dir, s".$name.crc"), false)
      raw.delete(new HPath(dir, s".$name.tmp.crc"), false)
    }
    if (fs.getScheme == "file") {
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(dst.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      // rename through the RAW layer's FileContext: tmp is crc-less,
      // so the rename must not engage a checksum layer's two-step
      // data+crc move (non-checksummed fs: raw eq fs, same behavior
      // as before)
      val fc = FileContext.getFileContext(raw.getUri, raw.getConf)
      fc.rename(raw.makeQualified(tmp), raw.makeQualified(dst),
        Options.Rename.OVERWRITE)
    }
  }
}
