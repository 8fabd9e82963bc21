package graft.pack

import java.io.{File, FileInputStream, FileOutputStream}
import java.nio.charset.StandardCharsets

/** Minimal ustar archive IO (reference: slovnet/tar.py:8-41 — the
  * reference ships model packs as tar files whose members are the
  * meta.json/model.json/arrays/vocabs layout). Zero-dependency: the JDK
  * has no tar support, and the format is 512-byte headers + padded data.
  * Only what packs need: regular files, names < 100 chars, sizes < 8 GiB.
  */
object Tar {

  private val Block = 512

  private def headerFor(name: String, size: Long): Array[Byte] = {
    val h = new Array[Byte](Block)
    def put(off: Int, s: String): Unit = {
      val b = s.getBytes(StandardCharsets.US_ASCII)
      System.arraycopy(b, 0, h, off, math.min(b.length, 99))
    }
    require(name.getBytes(StandardCharsets.UTF_8).length < 100, s"name too long: $name")
    // 11 octal digits max — a larger size would overflow into the mtime field
    require(size < (1L << 33), s"member too large for ustar size field: $size")
    put(0, name)                                   // name
    put(100, "0000644\u0000")                      // mode
    put(108, "0000000\u0000")                      // uid
    put(116, "0000000\u0000")                      // gid
    put(124, f"$size%011o\u0000")                  // size (octal)
    put(136, "00000000000\u0000")                  // mtime
    h(156) = '0'                                   // typeflag: regular file
    put(257, "ustar\u0000")                        // magic
    put(263, "00")                                 // version
    // checksum: computed with the chksum field as spaces
    java.util.Arrays.fill(h, 148, 156, ' '.toByte)
    var sum = 0
    var i = 0
    while (i < Block) { sum += h(i) & 0xff; i += 1 }
    put(148, f"$sum%06o\u0000 ")
    h
  }

  /** Archive `files` (name -> content) into `out`. Member order is the
    * given order (the pack loader is order-independent).
    */
  def write(out: File, files: Seq[(String, Array[Byte])]): Unit = {
    val os = new FileOutputStream(out)
    try {
      for ((name, data) <- files) {
        os.write(headerFor(name, data.length.toLong))
        os.write(data)
        val pad = (Block - data.length % Block) % Block
        if (pad > 0) os.write(new Array[Byte](pad))
      }
      os.write(new Array[Byte](2 * Block)) // end-of-archive
    } finally os.close()
  }

  /** Read all regular members as (name, content). */
  def read(in: File): Seq[(String, Array[Byte])] = {
    val is = new FileInputStream(in)
    val out = Seq.newBuilder[(String, Array[Byte])]
    try {
      val h = new Array[Byte](Block)
      var done = false
      while (!done) {
        var read = 0
        while (read < Block) {
          val n = is.read(h, read, Block - read)
          if (n < 0) { done = true; read = Block } else read += n
        }
        if (!done && h.forall(_ == 0)) done = true
        if (!done) {
          val name = new String(h, 0, h.indexOf(0.toByte).max(0), StandardCharsets.UTF_8)
            .takeWhile(_ != '\u0000')
          val size = java.lang.Long.parseLong(
            new String(h, 124, 12, StandardCharsets.US_ASCII).trim.stripSuffix("\u0000")
              .replace("\u0000", "").trim, 8)
          val data = new Array[Byte](size.toInt)
          var got = 0
          while (got < size) {
            val n = is.read(data, got, (size - got).toInt)
            require(n >= 0, "truncated tar")
            got += n
          }
          val pad = (Block - size % Block) % Block
          if (pad > 0) is.skipNBytes(pad)
          if (h(156) == '0' || h(156) == 0) out += name -> data
        }
      }
      out.result()
    } finally is.close()
  }
}
