package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.io.{BufferedInputStream, FileOutputStream, InputStream}
import java.nio.file.{Files, Paths}

/** `url(addr, format)` table function (SURVEY.md §2.1 S2; the
  * reference's only bulk-ingest path — its CI loads ClickBench with
  * `INSERT INTO hits SELECT * FROM url('https://.../hits_v1.tsv.xz',
  * 'TSV')`, /root/reference/.github/workflows/test.yml:50).
  *
  * fetch-then-read: the address is materialized locally (file:// used
  * directly; http(s):// downloaded), transparently decompressed
  * (.xz via org.tukaani, .gz via JDK — matching the reference's
  * hits_v1.tsv.xz), then parsed by the named format's reader in
  * [[graft.formats.Formats.read]] — the same one `INSERT … FORMAT`
  * uses. Header-less formats (TSV/CSV) infer types but keep positional
  * column names, which is what `INSERT ... SELECT *` consumes.
  *
  * At scale the fetch step belongs on the executors (distribute a list
  * of URLs via a dataset of addresses); a single url() call is
  * inherently one remote object, so driver-side materialization
  * matches the reference's own semantics.
  */
object UrlTableFunction {

  def read(spark: SparkSession, addr: String, format: String): DataFrame = {
    graft.formats.Formats.canonical(format) // a misspelled name fails before the fetch
    graft.formats.Formats.read(spark, format,
      graft.formats.Formats.LocalFile(materialize(addr)), target = None)(identity)
  }

  /** Resolve to a local path, downloading and/or decompressing. */
  private def materialize(addr: String): String = {
    val raw: String =
      if (addr.startsWith("file://")) Paths.get(new java.net.URI(addr)).toString
      else if (addr.startsWith("http://") || addr.startsWith("https://")) {
        val tmp = Files.createTempFile("graft_url_", suffixOf(addr))
        tmp.toFile.deleteOnExit() // downloads must not outlive the JVM
        val in = new java.net.URI(addr).toURL.openStream()
        try Files.copy(in, tmp, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        finally in.close()
        tmp.toString
      } else addr // bare local path
    if (raw.endsWith(".xz")) decompress(raw,
      in => new org.tukaani.xz.XZInputStream(in))
    else if (raw.endsWith(".gz")) decompress(raw,
      in => new java.util.zip.GZIPInputStream(in))
    else raw
  }

  private def suffixOf(addr: String): String = {
    val name = addr.substring(addr.lastIndexOf('/') + 1)
    val dot = name.indexOf('.')
    if (dot >= 0) name.substring(dot) else ".dat"
  }

  private def decompress(path: String, wrap: InputStream => InputStream): String = {
    val base = path.substring(0, path.lastIndexOf('.'))
    val outName = if (base.contains(".")) base
      else base + ".dat"
    val out = Files.createTempFile("graft_url_dec_",
      outName.substring(outName.lastIndexOf('.')))
    out.toFile.deleteOnExit() // decompressed copies must not outlive the JVM
    val in = wrap(new BufferedInputStream(Files.newInputStream(Paths.get(path))))
    val os = new FileOutputStream(out.toFile)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) { os.write(buf, 0, n); n = in.read(buf) }
    } finally { in.close(); os.close() }
    out.toString
  }

  private val urlCallRe =
    "(?i)\\b(url|file)\\s*\\(\\s*'([^']+)'\\s*,\\s*'([A-Za-z]+)'\\s*\\)".r

  /** Replace every url('addr','FMT') / file('path','FMT') in the SQL
    * with a registered temp view over the fetched data (file() is the
    * local-path variant, SURVEY §2.1 S8). */
  def rewrite(spark: SparkSession, sql: String): String =
    urlCallRe.replaceAllIn(sql, m => {
      val (addr, fmt) = (m.group(2), m.group(3))
      val view = s"url_${Integer.toHexString(java.util.Objects.hash(addr, fmt))}"
      // the view name is a content key — an existing registration means
      // the (addr, fmt) pair was already fetched this session; re-reading
      // would re-download the whole remote object per query
      if (!spark.catalog.tableExists(view))
        read(spark, addr, fmt).createOrReplaceTempView(view)
      view
    })
}
