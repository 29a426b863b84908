package graft.perfbench

import java.io.{ByteArrayOutputStream, File}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import graft.core.columns._
import graft.core.compress.{Chunked, CompressionKind}
import graft.core.file._
import graft.core.fsst.Fsst
import graft.core.io.{BitCodec, ByteBuf, ByteRd}
import graft.core.rle.{BooleanWriter, RleV2, RleV2Writer}
import graft.core.stats._
import graft.spark.MothSpark

/** Engine replay of one output partition (the largest file in `dir`),
  * single-threaded, with the WriterOpts the workload wrote it with: the file
  * is decoded, re-encoded and decoded again through graft.core.file, and its
  * column values and decompressed streams are fed to each kernel module's
  * public functions. Each timed call is a span; each is repeated [[Reps]]
  * times so run.py can take medians. Returns the checks: the replayed file
  * must decode to the original's row count and digest, and every kernel
  * must round-trip its input.
  */
final class Replay(tracer: Tracer, dir: String, opts: WriterOpts) {
  private val Reps = 3
  private val checks = mutable.ArrayBuffer.empty[(String, Any, Any)]
  private def check(name: String, expected: Any, got: Any): Unit = checks += ((name, expected, got))
  private def span[T](name: String)(body: mutable.Map[String, Any] => T): T = tracer.span(name)(body)
  private def reps[T](name: String)(body: mutable.Map[String, Any] => T): T =
    (1 to Reps).map(_ => span(name)(body)).last

  private val files = new File(dir).listFiles().filter(_.getName.endsWith(".moth")).sortBy(_.getName)

  def run(): Seq[(String, Any, Any)] = {
    span("core.file.bytes_table")(bytesTable)
    span("core.columns.encodings")(a => Replay.manifestEncodings(dir).foreach { case (k, v) => a(k) = v })
    val file = files.maxBy(_.length).getPath
    val (schema, meta, batches) = (1 to Reps).map { _ =>
      val rd = span("core.file.reader.open")(_ => MothFileReader.fromPath(file))
      try span("core.file.reader.decode") { a =>
        val b = rd.batches().toVector
        a("bytes_read") = rd.bytesRead
        (rd.schema, rd.userMetadata, b)
      } finally rd.close()
    }.last
    val names = schema.fields.map(_._1)
    names.foreach { c =>
      reps(s"core.file.reader.decode.$c") { _ =>
        val rd = MothFileReader.fromPath(file)
        try rd.batches(Some(Seq(c))).foreach(_ => ()) finally rd.close()
      }
    }
    val original = Replay.digest(batches)

    val bytes = reps("core.file.writer") { a =>
      val bos = new ByteArrayOutputStream()
      val w = new MothFileWriter(bos, schema, CompressionKind.ZLIB, opts)
      span("core.file.writer.write")(_ => batches.foreach(w.write))
      meta.get(MothSpark.SortedByKey).foreach(w.addUserMetadata(MothSpark.SortedByKey, _))
      val res = span("core.file.writer.close")(_ => w.close())
      a("peak_retained_bytes") = w.peakRetainedBytes
      a("stripes") = res.stripes.size
      res.stripes.groupBy(_.flushReason).foreach { case (r, s) => a(s"flush.$r") = s.size }
      a("replay_bytes") = res.bytes
      a("original_bytes") = new File(file).length
      bos.toByteArray
    }
    val back = MothFileReader.fromBytes(bytes)
    check("replayed file rows and digest", original, Replay.digest(back.batches().toVector))

    lookups(file, batches, names)
    kernels(batches, names)
    checks.toSeq
  }

  /** Stream bytes per column and kind over every stripe footer of every
    * file; `index` is row-index and bloom streams, `tail` everything else
    * (header, stripe footers, metadata, footer, postscript).
    */
  private def bytesTable(a: mutable.Map[String, Any]): Unit = {
    val table = mutable.TreeMap.empty[String, Long]
    def add(k: String, n: Long): Unit = table(k) = table.getOrElse(k, 0L) + n
    files.foreach { f =>
      val rd = MothFileReader.fromPath(f.getPath)
      try {
        val names = "root" +: rd.schema.fields.map(_._1)
        val raf = new java.io.RandomAccessFile(f, "r")
        var streamBytes = 0L
        try rd.footer.stripes.foreach { s =>
          val raw = new Array[Byte](s.footerLength.toInt)
          raf.seek(s.offset + s.indexLength + s.dataLength)
          raf.readFully(raw)
          val sf = Meta.readStripeFooter(Chunked.decompress(rd.compression, raw, 0, raw.length,
            rd.postScript.compressionBlockSize.toInt))
          sf.streams.foreach { st =>
            streamBytes += st.length
            if (st.kind == StreamKind.RowIndex || st.kind == StreamKind.BloomFilterUtf8) add("index", st.length)
            else add(s"${names.lift(st.column).getOrElse(s"col${st.column}")}.${Replay.kindName(st.kind)}", st.length)
          }
        } finally raf.close()
        add("tail", f.length - streamBytes)
      } finally rd.close()
    }
    table.foreach { case (k, v) => a(k) = v }
  }

  /** Single-file lookups with a conv_id equality predicate, for a key in
    * the file and for a key sorting inside its range but absent.
    */
  private def lookups(file: String, batches: Seq[ColVec], names: Seq[String]): Unit = {
    val ci = names.indexOf("conv_id")
    val all = batches.flatMap(b => Replay.strings(b.children(ci)))
    val present = new String(all(all.size / 2), "UTF-8")
    Seq(present -> false, (present + "x") -> true).foreach { case (k, absent) =>
      val hits = reps("core.file.lookup") { a =>
        val rd = MothFileReader.fromPath(file)
        try {
          val got = rd.batches(None, StatsPredicate(Seq(StringEqPred("conv_id", k))))
            .map(b => Replay.strings(b.children(ci)).count(v => v != null && new String(v, "UTF-8") == k)).sum
          a("absent") = absent
          a("bytes_read") = rd.bytesRead
          got
        } finally rd.close()
      }
      check(s"file lookup of $k finds rows", !absent, hits > 0)
    }
  }

  private def kernels(batches: Seq[ColVec], names: Seq[String]): Unit = {
    def column(c: String): Seq[ColVec] = batches.map(_.children(names.indexOf(c)))
    def strs(c: String): Array[Array[Byte]] = column(c).flatMap(Replay.strings).toArray
    def longs(c: String): Array[Long] =
      column(c).flatMap(v => (0 until v.len).filterNot(v.isNull).map(v.longs(_))).toArray

    val convIds = strs("conv_id")
    val texts = strs("text").filter(_ != null)
    val turnIdx = longs("turn_idx")
    val ts = longs("ts")
    val lengths = texts.map(_.length.toLong)

    reps("core.columns.dict_build") { a =>
      Seq("conv_id", "role", "tool").foreach { c =>
        val d = new DictionaryBuilder()
        strs(c).foreach(v => if (v != null) d.putIfAbsent(v))
        a(s"entries.$c") = d.entryCount
      }
    }

    val table = reps("core.fsst.train")(_ => Fsst.train(Fsst.sampleOf(texts.iterator)))
    val (enc, encLens) = reps("core.fsst.encode") { a =>
      val out = new ByteBuf(1 << 20)
      val lens = texts.map { t => val s = out.size; table.encode(t, out); out.size - s }
      a("raw_bytes") = lengths.sum
      a("encoded_bytes") = out.size.toLong
      (out, lens)
    }
    val dec = reps("core.fsst.decode") { _ =>
      val out = new ByteBuf(1 << 20)
      var off = 0
      encLens.foreach { n => table.decode(enc.array, off, n, out); off += n }
      out.toArray
    }
    check("fsst round trip", true, java.util.Arrays.equals(dec, texts.flatten))

    val series = Seq(("turn_idx", turnIdx, true), ("ts", ts, true), ("text.length", lengths, false))
    val encoded = reps("core.rle.v2_encode") { _ =>
      series.map { case (_, vs, signed) =>
        val w = new RleV2Writer(signed)
        vs.foreach(w.writeLong)
        w.flush()
        w.out.toArray
      }
    }
    reps("core.rle.v2_decode") { _ =>
      series.zip(encoded).map { case ((_, vs, signed), b) =>
        val dst = new Array[Long](vs.length)
        RleV2.read(new ByteRd(b), signed, dst, 0, vs.length)
        dst
      }
    }.zip(series).foreach { case (got, (name, vs, _)) => check(s"rle v2 round trip of $name", true, got.sameElements(vs)) }
    reps("core.rle.byte_rle") { _ =>
      Seq("text", "tool").foreach { c =>
        val w = new BooleanWriter()
        column(c).foreach(v => (0 until v.len).foreach(i => w.writeBoolean(!v.isNull(i))))
        w.flush()
      }
    }

    val bits = BitCodec.closestFixedBits(BitCodec.findClosestNumBits(if (turnIdx.isEmpty) 0L else turnIdx.max))
    val packed = reps("core.io.bitpack") { _ =>
      val out = new ByteBuf(turnIdx.length * bits / 8 + 16)
      BitCodec.writeInts(turnIdx, 0, turnIdx.length, bits, out)
      out.toArray
    }
    val unpacked = reps("core.io.bitunpack") { _ =>
      val dst = new Array[Long](turnIdx.length)
      BitCodec.readInts(dst, 0, turnIdx.length, bits, new ByteRd(packed))
      dst
    }
    check("bit-pack round trip of turn_idx", true, unpacked.sameElements(turnIdx))

    compression()

    reps("core.stats.build") { _ =>
      val i = new IntStatsBuilder; turnIdx.foreach(i.add); i.build()
      val t = new TimestampStatsBuilder; ts.foreach(v => t.addMillis(Math.floorDiv(v, 1000L))); t.build()
      Seq("conv_id", "role", "text", "tool").foreach { c =>
        val s = new StringStatsBuilder(opts.stringStatsLimit)
        strs(c).foreach(v => if (v == null) s.recordNull() else s.add(v))
        s.build()
      }
    }
    val bloom = reps("core.stats.bloom_add") { _ =>
      val b = BloomFilter(convIds.length.toLong, opts.bloomFpp)
      convIds.foreach(b.addBytes)
      b
    }
    val distinct = convIds.map(new String(_, "UTF-8")).distinct
    val probes = distinct.map(_.getBytes("UTF-8")) ++ distinct.map(k => (k + "x").getBytes("UTF-8"))
    val hits = reps("core.stats.bloom_test")(_ => probes.map(bloom.testBytes))
    check("bloom has every present key", true, hits.take(distinct.length).forall(identity))
  }

  /** Decompress and re-compress every data stream of the replayed file's
    * stripes, with the file's codec and chunk size.
    */
  private def compression(): Unit = {
    val file = files.maxBy(_.length)
    val bytes = java.nio.file.Files.readAllBytes(file.toPath)
    val rd = MothFileReader.fromPath(file.getPath)
    val chunk = rd.postScript.compressionBlockSize.toInt
    val kind = rd.compression
    val streams = try rd.footer.stripes.flatMap { s =>
      val sfOff = (s.offset + s.indexLength + s.dataLength).toInt
      val sf = Meta.readStripeFooter(Chunked.decompress(kind, bytes, sfOff, s.footerLength.toInt, chunk))
      sf.streams.scanLeft((s.offset, null: Meta.StreamInfo)) { case ((off, prev), st) =>
        (off + (if (prev == null) 0L else prev.length), st)
      }.drop(1).collect { case (off, st) if st.kind != StreamKind.RowIndex &&
        st.kind != StreamKind.BloomFilterUtf8 => (off.toInt, st.length.toInt) }
    } finally rd.close()
    val plain = reps("core.compress.decompress")(_ =>
      streams.map { case (off, len) => Chunked.decompress(kind, bytes, off, len, chunk) })
    val packed = reps("core.compress.compress") { a =>
      val out = plain.map { p =>
        val o = new ByteBuf(p.length / 2 + 64)
        Chunked.compress(kind, p, 0, p.length, o, chunk)
        o.toArray
      }
      a("raw_bytes") = plain.map(_.length.toLong).sum
      a("compressed_bytes") = out.map(_.length.toLong).sum
      out
    }
    check("chunked compression round trip", true, plain.zip(packed).forall { case (p, c) =>
      java.util.Arrays.equals(p, Chunked.decompress(kind, c, 0, c.length, chunk)) })
  }
}

object Replay {
  def kindName(k: Int): String = k match {
    case StreamKind.Present => "PRESENT"
    case StreamKind.Data => "DATA"
    case StreamKind.Length => "LENGTH"
    case StreamKind.DictionaryData => "DICTIONARY_DATA"
    case StreamKind.Secondary => "SECONDARY"
    case other => s"KIND$other"
  }

  /** Values of a string vector, null where the row is null. */
  def strings(v: ColVec): Seq[Array[Byte]] = (0 until v.len).map { i =>
    if (v.isNull(i)) null
    else if (v.packed != null) java.util.Arrays.copyOfRange(v.packed, v.binOff(i), v.binOff(i) + v.binLen(i))
    else v.bins(i)
  }

  /** Row count and the wrapping sum of a per-row hash over all columns. */
  def digest(batches: Seq[ColVec]): String = {
    var rows = 0L
    var sum = 0L
    batches.foreach { b =>
      var i = 0
      while (i < b.len) {
        var h = 17
        b.children.foreach { c =>
          val cell =
            if (c.isNull(i)) 0x5bd1e995
            else if (c.longs != null) java.lang.Long.hashCode(c.longs(i))
            else if (c.packed != null)
              scala.util.hashing.MurmurHash3.bytesHash(
                java.util.Arrays.copyOfRange(c.packed, c.binOff(i), c.binOff(i) + c.binLen(i)))
            else scala.util.hashing.MurmurHash3.bytesHash(c.bins(i))
          h = scala.util.hashing.MurmurHash3.mix(h, cell)
        }
        sum += scala.util.hashing.MurmurHash3.finalizeHash(h, b.children.length)
        rows += 1
        i += 1
      }
    }
    s"$rows:$sum"
  }

  /** Stripes per (column, encoding class) over the manifests in `dir`. */
  def manifestEncodings(dir: String): Map[String, Long] = {
    val names = Map(1 -> "conv_id", 2 -> "turn_idx", 3 -> "role", 4 -> "text", 5 -> "tool", 6 -> "ts")
    val mapper = new ObjectMapper()
    val counts = mutable.TreeMap.empty[String, Long]
    for {
      f <- new File(dir).listFiles()
      if f.getName.startsWith("manifest-") && f.getName.endsWith(".json")
      stripe <- mapper.readTree(f).get("stripes").asScala
      e <- stripe.get("encodings").fields().asScala
      c <- names.get(e.getKey.toInt)
    } {
      val cls = e.getValue.asText match {
        case s if s.startsWith("DICTIONARY") => "dictionary"
        case "DIRECT_FSST" => "fsst"
        case _ => "direct"
      }
      counts(s"$c.$cls") = counts.getOrElse(s"$c.$cls", 0L) + 1
    }
    counts.toMap
  }
}
