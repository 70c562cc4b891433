package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

import scala.jdk.CollectionConverters._

/**
 * Seeded input generator. Every object it writes is a pure function of the
 * seed, so the same seed gives byte-identical files (gzip headers carry no
 * timestamp). Alongside the files it returns what the engine must report
 * for each of them, derived from the planted defects alone:
 *
 *  - bad enum, out-of-range decimal and unparseable timestamp each fail
 *    exactly one rule of their record;
 *  - a corrupt JSON line (cut inside its first key) keeps its record
 *    (PERMISSIVE parse, every field null) and fails every rule once;
 *  - blank lines are dropped by the reader and change nothing;
 *  - a serial gap inside a bundle fails the serialNumber increment check
 *    once; a duplicated record fails the serialNumber and recordId increment
 *    checks and its bundle's size check;
 *  - an out-of-order bundle is reordered by the serial sort and fails
 *    nothing;
 *  - a TMC record fails the request.ode.version rule once (the odejson
 *    suite asks TMC for the number 3, the record schema reads a string) and
 *    gates only the recordGeneratedAt chronology, which has no planted
 *    defect;
 *  - an rxMsg or sanitized=True record gates the serial, recordId and
 *    bundle-size checks of its whole file, so that file's serial defects
 *    must not be reported.
 */
object Gen {

  /** What the pipeline must report for one file. `ruleErrors` counts failed
    * rule checks, `errorRecords` the records with at least one; `seqErrors`
    * counts sequential failures (None: the suite is not sequential). */
  final case class Expect(name: String, records: Long, validationsPerRecord: Int,
                          ruleErrors: Long, errorRecords: Long,
                          seqErrors: Option[Long]) {
    def numMessagesTotal: Long = records + seqErrors.fold(0L)(_ => 1L)
    def numValidations: Long =
      records * validationsPerRecord + seqErrors.fold(0L)(e => math.max(e, 1L))
    def numErrors: Long = ruleErrors + seqErrors.getOrElse(0L)
    def numErrorMessages: Long = errorRecords + seqErrors.fold(0L)(e => if (e > 0) 1L else 0L)
  }

  // ------------------------------------------------------------------ odejson

  /** Validations per clean odejson record under fixtures/odejson/suite.ini:
    * 19 scalar rules plus 2 list rules over the 2-element rsus array. */
  val OdeValidationsPerRecord = 23

  /** Knobs for one odejson object. */
  final case class OdeFile(name: String, bundles: Int, gzip: Boolean,
                           serialGaps: Int = 0, duplicates: Int = 0,
                           reorders: Int = 0, tmc: Int = 0,
                           skipFlag: Option[String] = None,
                           ruleDefects: Int = 0, blankLines: Int = 0)

  private val StartMillis = 1557860710123L // 2019-05-14T19:05:10.123Z

  private def iso(ms: Long): String =
    java.time.Instant.ofEpochMilli(ms).toString match {
      case s if s.length == 20 => s.dropRight(1) + ".000Z" // whole second
      case s => s
    }

  private final class Rec(var serial: Long, var bundleId: Long, var recordId: Long,
                          var bundleSize: Long, var t: Long,
                          var by: String = "OBU", var rtype: String = "bsmLogDuringEvent",
                          var sanitized: String = "False", var lat: String = "40.5",
                          var received: String = null, var version: String = "2",
                          var rx: String = null)

  private def odeLine(r: Rec, rnd: SplittableRandom): String = {
    val sb = new java.lang.StringBuilder(640)
    val rcv = if (r.received != null) r.received else iso(r.t + 10000L)
    sb.append("{\"metadata\":{\"recordGeneratedAt\":\"").append(iso(r.t))
      .append("\",\"recordGeneratedBy\":\"").append(r.by)
      .append("\",\"recordType\":\"").append(r.rtype)
      .append("\",\"sanitized\":\"").append(r.sanitized)
      .append("\",\"schemaVersion\":6,\"payloadType\":\"")
      .append(if (r.rtype == "dnMsg") "us.dot.its.jpo.ode.model.OdeTimPayload"
              else "us.dot.its.jpo.ode.model.OdeBsmPayload")
      .append("\",\"logFileName\":\"").append(r.rtype).append("_file.log")
      .append("\",\"odeReceivedAt\":\"").append(rcv)
      .append("\",\"serialId\":{\"streamId\":\"s-").append(r.bundleId % 7)
      .append("\",\"bundleSize\":").append(r.bundleSize)
      .append(",\"bundleId\":").append(r.bundleId)
      .append(",\"recordId\":").append(r.recordId)
      .append(",\"serialNumber\":").append(r.serial)
      .append("},\"receivedMessageDetails\":{\"locationData\":{\"latitude\":\"").append(r.lat)
      .append("\",\"elevation\":\"").append(if (rnd.nextInt(4) == 0) "" else f"${rnd.nextInt(2000)}%d.5")
      .append("\"}")
    if (r.rx != null) sb.append(",\"rxSource\":\"").append(r.rx).append('"')
    sb.append("},\"request\":{\"ode\":{\"version\":\"").append(r.version)
      .append("\"},\"rsus\":{\"rsus\":[{\"rsuTarget\":\"10.0.0.").append(1 + rnd.nextInt(200))
      .append("\",\"rsuIndex\":").append(rnd.nextInt(100))
      .append("},{\"rsuTarget\":\"10.0.1.").append(1 + rnd.nextInt(200))
      .append("\",\"rsuIndex\":").append(rnd.nextInt(100))
      .append("}]}}},\"payload\":\"").append(java.lang.Long.toHexString(rnd.nextLong()))
      .append("\"}")
    sb.toString
  }

  /** Write one odejson object under `dir` and return its expected counts.
    * Bundles hold 4-8 records; serial numbers advance by one inside a
    * bundle and skip one between bundles (the reference never compares
    * serials across bundles). */
  def writeOde(dir: File, f: OdeFile, seed: Long): Expect = {
    val rnd = new SplittableRandom(seed ^ f.name.hashCode.toLong * 0x9E3779B97F4A7C15L)
    // bundles as lists of records, in serial order
    var serial = 1000L + rnd.nextInt(1000)
    var t = StartMillis + rnd.nextInt(1000000) * 1000L
    val bundles = Array.tabulate(f.bundles) { b =>
      val size = 4 + rnd.nextInt(5)
      val recs = Array.tabulate(size) { i =>
        val r = new Rec(serial + i, b.toLong + 1, i.toLong, size.toLong, t)
        t += 1000L
        r
      }
      serial += size + 1
      recs.toBuffer
    }
    // pick distinct bundles for the planted defects
    val order = shuffled(f.bundles, rnd)
    var next = 0
    def take(): Int = { val b = order(next); next += 1; b }
    var seqErrors = 0L
    for (_ <- 0 until f.serialGaps) {
      val b = bundles(take())
      val k = 1 + rnd.nextInt(b.size - 1)
      for (i <- k until b.size) b(i).serial += 1
      seqErrors += 1
    }
    for (_ <- 0 until f.duplicates) {
      val b = bundles(take())
      val k = 1 + rnd.nextInt(b.size - 1)
      val src = b(k)
      b.insert(k + 1, new Rec(src.serial, src.bundleId, src.recordId, src.bundleSize, src.t))
      seqErrors += 3
    }
    var ruleErrors = 0L
    var errorRecords = 0L
    for (_ <- 0 until f.tmc) {
      val b = bundles(take())
      val r = b(rnd.nextInt(b.size))
      r.by = "TMC"; r.version = "3"
      ruleErrors += 1; errorRecords += 1
    }
    f.skipFlag.foreach { flag =>
      val r = bundles(take())(0)
      flag match {
        case "rxMsg" => r.rtype = "rxMsg"; r.rx = "RSU"
        case "sanitized" => r.sanitized = "True"
      }
      seqErrors = 0L // the whole file's serial checks are gated off
    }
    for (_ <- 0 until f.ruleDefects) {
      val b = bundles(take())
      val r = b(rnd.nextInt(b.size))
      rnd.nextInt(3) match {
        case 0 => r.sanitized = "Maybe"                          // bad enum
        case 1 => r.lat = "91." + rnd.nextInt(10)                 // decimal range
        case _ => r.received = "2019-13-45T25:61:00.000Z"        // bad timestamp
      }
      ruleErrors += 1; errorRecords += 1
    }
    // file order: bundles in serial order except `reorders` swapped pairs
    val fileOrder = (0 until f.bundles).toArray
    for (_ <- 0 until f.reorders if f.bundles > 1) {
      val a = rnd.nextInt(f.bundles); val b = rnd.nextInt(f.bundles)
      val x = fileOrder(a); fileOrder(a) = fileOrder(b); fileOrder(b) = x
    }
    val blanksAt = Array.fill(f.blankLines)(rnd.nextInt(f.bundles)).toSet
    var records = 0L
    withOut(new File(dir, f.name), f.gzip) { out =>
      fileOrder.foreach { bi =>
        bundles(bi).foreach { r =>
          out.write(odeLine(r, rnd).getBytes(UTF_8)); out.write('\n')
          records += 1
        }
        if (blanksAt.contains(bi)) out.write("\n  \n".getBytes(UTF_8))
      }
    }
    Expect(f.name, records, OdeValidationsPerRecord, ruleErrors, errorRecords, Some(seqErrors))
  }

  // ------------------------------------------------------- BSM + wide suite

  /** Values of the wide suite's large enum (the vehicle-class table). */
  val VehicleClasses: Seq[String] = (0 until 400).map(i => f"vc$i%03d")
  private val Transmissions = Seq("neutral", "park", "forwardGears", "reverseGears", "unavailable")
  private val Tri = Seq("unavailable", "off", "on", "engaged")

  /** A non-sequential rule suite in the shape of the reference's shipped
    * config_2.ini: BSM metadata rules (with conditional EqualsValue chains)
    * plus the J2735 core-data fields, 48 sections in all, one of them a
    * 400-value enum. Every rule is required, so an all-null record fails
    * each of them once. */
  val wideSuite: String = {
    val sb = new StringBuilder("[_settings]\nDataType = json\nSequential = False\n\n")
    def sec(path: String, kv: (String, String)*): Unit = {
      sb.append('[').append(path).append("]\n")
      kv.foreach { case (k, v) => sb.append(k).append(" = ").append(v).append('\n') }
      sb.append('\n')
    }
    def enumVals(vs: Seq[String]) = vs.map("\"" + _ + "\"").mkString("[", ", ", "]")
    def dec(path: String, lo: String, hi: String) =
      sec(path, "Type" -> "decimal", "LowerLimit" -> lo, "UpperLimit" -> hi)
    val ts = Seq("Type" -> "timestamp", "EarliestTime" -> "2018-01-01T00:00:00.000Z",
      "LatestTime" -> "2030-01-01T00:00:00.000Z")
    sec("metadata.recordGeneratedAt", ts: _*)
    sec("metadata.recordGeneratedBy", "Type" -> "enum",
      "Values" -> enumVals(Seq("TMC", "OBU", "RSU", "TMC_VIA_SAT", "TMC_VIA_SNMP")))
    sec("metadata.recordType", "Type" -> "enum",
      "Values" -> enumVals(Seq("bsmLogDuringEvent", "rxMsg", "dnMsg", "bsmTx", "driverAlert")),
      "EqualsValue" -> """{"conditions":[{"ifPart":{"fieldName":"metadata.recordGeneratedBy","fieldValues":["OBU","RSU"]},"thenPart":{"matchAgainst":["bsmLogDuringEvent","bsmTx","rxMsg"]}}]}""")
    sec("metadata.sanitized", "Type" -> "enum", "Values" -> enumVals(Seq("True", "False")))
    dec("metadata.schemaVersion", "3", "7")
    sec("metadata.securityResultCode", "Type" -> "enum",
      "Values" -> enumVals(Seq("success", "unknown", "inconclusive", "unsupported")))
    sec("metadata.bsmSource", "Type" -> "enum", "Values" -> enumVals(Seq("RV", "EV", "unknown")))
    sec("metadata.payloadType", "Type" -> "string",
      "EqualsValue" -> """{"conditions":[{"ifPart":{"fieldName":"metadata.recordType","fieldValues":["bsmLogDuringEvent","bsmTx"]},"thenPart":{"matchAgainst":["us.dot.its.jpo.ode.model.OdeBsmPayload"]}}]}""")
    sec("metadata.logFileName", "Type" -> "string",
      "EqualsValue" -> """{"conditions":[{"ifPart":{"fieldName":"metadata.recordGeneratedBy","fieldValues":["OBU","RSU"]},"thenPart":{"startsWithField":"metadata.recordType"}}]}""")
    sec("metadata.odeReceivedAt", ts: _*)
    sec("metadata.serialId.streamId", "Type" -> "string")
    dec("metadata.serialId.bundleSize", "1", "2147483648")
    dec("metadata.serialId.bundleId", "0", "9223372036854775807")
    dec("metadata.serialId.recordId", "0", "2147483647")
    dec("metadata.serialId.serialNumber", "0", "9223372036854775807")
    dec("metadata.receivedMessageDetails.locationData.latitude", "-90.0", "90.0")
    dec("metadata.receivedMessageDetails.locationData.longitude", "-180.0", "180.0")
    dec("metadata.receivedMessageDetails.locationData.elevation", "-409.6", "6143.9")
    dec("metadata.receivedMessageDetails.locationData.speed", "0", "163.82")
    dec("metadata.receivedMessageDetails.locationData.heading", "0", "360")
    sec("metadata.request.ode.verb", "Type" -> "enum", "Values" -> enumVals(Seq("POST", "PUT", "GET")))
    sec("metadata.request.ode.version", "Type" -> "decimal", "UpperLimit" -> "3", "LowerLimit" -> "0",
      "EqualsValue" -> """{"conditions":[{"ifPart":{"fieldName":"metadata.recordGeneratedBy","fieldValues":["TMC"]},"thenPart":{"matchAgainst":[3]}}]}""")
    dec("bsm.coreData.msgCnt", "0", "127")
    sec("bsm.coreData.id", "Type" -> "string")
    dec("bsm.coreData.secMark", "0", "65535")
    dec("bsm.coreData.lat", "-90.0", "90.0")
    dec("bsm.coreData.long", "-180.0", "180.0")
    dec("bsm.coreData.elev", "-409.6", "6143.9")
    dec("bsm.coreData.accuracy.semiMajor", "0", "12.7")
    dec("bsm.coreData.accuracy.semiMinor", "0", "12.7")
    dec("bsm.coreData.accuracy.orientation", "0", "360")
    sec("bsm.coreData.transmission", "Type" -> "enum", "Values" -> enumVals(Transmissions))
    dec("bsm.coreData.speed", "0", "163.82")
    dec("bsm.coreData.heading", "0", "359.9875")
    dec("bsm.coreData.angle", "-189", "189")
    dec("bsm.coreData.accelSet.accelLong", "-20", "20")
    dec("bsm.coreData.accelSet.accelLat", "-20", "20")
    dec("bsm.coreData.accelSet.accelVert", "-3.4", "3.4")
    dec("bsm.coreData.accelSet.accelYaw", "-327.67", "327.67")
    sec("bsm.coreData.brakes.wheelBrakes", "Type" -> "string")
    sec("bsm.coreData.brakes.traction", "Type" -> "enum", "Values" -> enumVals(Tri))
    sec("bsm.coreData.brakes.abs", "Type" -> "enum", "Values" -> enumVals(Tri))
    sec("bsm.coreData.brakes.scs", "Type" -> "enum", "Values" -> enumVals(Tri))
    sec("bsm.coreData.brakes.brakeBoost", "Type" -> "enum", "Values" -> enumVals(Tri))
    sec("bsm.coreData.brakes.auxBrakes", "Type" -> "enum", "Values" -> enumVals(Tri))
    dec("bsm.coreData.size.width", "0", "1023")
    dec("bsm.coreData.size.length", "0", "4095")
    sec("bsm.partII.vehicleClass", "Type" -> "enum", "Values" -> enumVals(VehicleClasses),
      "EqualsValue" -> """{"conditions":[{"ifPart":{"fieldName":"metadata.bsmSource","fieldValues":["EV"]},"thenPart":{"matchAgainst":["vc000","vc001","vc002"]}}]}""")
    sec("bsm.partII.eventFlags", "Type" -> "string")
    dec("bsm.partII.pathHistory.crumbs", "0", "23")
    sb.toString
  }

  val WideRuleCount: Int = wideSuite.linesIterator.count(l => l.startsWith("[") && l != "[_settings]")

  /** Knobs for one BSM object. */
  final case class BsmFile(name: String, records: Int, gzip: Boolean,
                           ruleDefects: Int, corruptLines: Int, blankLines: Int)

  private def bsmLine(rnd: SplittableRandom, i: Int, t: Long, defect: Int): String = {
    def d(lo: Double, hi: Double, digits: Int) =
      java.math.BigDecimal.valueOf(lo + rnd.nextDouble() * (hi - lo))
        .setScale(digits, java.math.RoundingMode.HALF_UP).toPlainString
    val rtype = if (rnd.nextBoolean()) "bsmLogDuringEvent" else "bsmTx"
    val sb = new java.lang.StringBuilder(1400)
    val received = if (defect == 2) "2019-02-30T99:00:00.000Z" else iso(t + 1000L)
    sb.append("{\"metadata\":{\"recordGeneratedAt\":\"").append(iso(t))
      .append("\",\"recordGeneratedBy\":\"OBU\",\"recordType\":\"").append(rtype)
      .append("\",\"sanitized\":\"False\",\"schemaVersion\":6,\"securityResultCode\":\"success\",\"bsmSource\":\"RV\",")
      .append("\"payloadType\":\"us.dot.its.jpo.ode.model.OdeBsmPayload\",\"logFileName\":\"").append(rtype)
      .append("_file.log\",\"odeReceivedAt\":\"").append(received)
      .append("\",\"serialId\":{\"streamId\":\"s-").append(rnd.nextInt(16))
      .append("\",\"bundleSize\":5,\"bundleId\":").append(i / 5)
      .append(",\"recordId\":").append(i % 5).append(",\"serialNumber\":").append(i)
      .append("},\"receivedMessageDetails\":{\"locationData\":{\"latitude\":\"").append(d(27, 45, 7))
      .append("\",\"longitude\":\"").append(d(-120, -75, 7))
      .append("\",\"elevation\":\"").append(d(0, 2000, 1))
      .append("\",\"speed\":\"").append(d(0, 40, 2))
      .append("\",\"heading\":\"").append(d(0, 359, 4))
      .append("\"}},\"request\":{\"ode\":{\"verb\":\"POST\",\"version\":2}}},")
    sb.append("\"bsm\":{\"coreData\":{\"msgCnt\":\"").append(rnd.nextInt(128))
      .append("\",\"id\":\"").append(Integer.toHexString(rnd.nextInt()))
      .append("\",\"secMark\":\"").append(rnd.nextInt(60000))
      .append("\",\"lat\":\"").append(d(27, 45, 7))
      .append("\",\"long\":\"").append(d(-120, -75, 7))
      .append("\",\"elev\":\"").append(d(0, 2000, 1))
      .append("\",\"accuracy\":{\"semiMajor\":\"").append(d(0, 12, 2))
      .append("\",\"semiMinor\":\"").append(d(0, 12, 2))
      .append("\",\"orientation\":\"").append(d(0, 359, 4))
      .append("\"},\"transmission\":\"")
      .append(if (defect == 0) "warpDrive" else Transmissions(rnd.nextInt(Transmissions.size)))
      .append("\",\"speed\":\"").append(if (defect == 1) "999.50" else d(0, 40, 2))
      .append("\",\"heading\":\"").append(d(0, 359, 4))
      .append("\",\"angle\":\"").append(d(-20, 20, 1))
      .append("\",\"accelSet\":{\"accelLong\":\"").append(d(-3, 3, 2))
      .append("\",\"accelLat\":\"").append(d(-3, 3, 2))
      .append("\",\"accelVert\":\"").append(d(-1, 1, 2))
      .append("\",\"accelYaw\":\"").append(d(-30, 30, 2))
      .append("\"},\"brakes\":{\"wheelBrakes\":\"").append(Integer.toBinaryString(16 + rnd.nextInt(16)).substring(1))
      .append("\",\"traction\":\"").append(Tri(rnd.nextInt(4)))
      .append("\",\"abs\":\"").append(Tri(rnd.nextInt(4)))
      .append("\",\"scs\":\"").append(Tri(rnd.nextInt(4)))
      .append("\",\"brakeBoost\":\"").append(Tri(rnd.nextInt(4)))
      .append("\",\"auxBrakes\":\"").append(Tri(rnd.nextInt(4)))
      .append("\"},\"size\":{\"width\":\"").append(150 + rnd.nextInt(100))
      .append("\",\"length\":\"").append(300 + rnd.nextInt(600))
      .append("\"}},\"partII\":{\"vehicleClass\":\"").append(VehicleClasses(rnd.nextInt(VehicleClasses.size)))
      .append("\",\"eventFlags\":\"").append(Integer.toBinaryString(8192 + rnd.nextInt(8192)).substring(1))
      .append("\",\"pathHistory\":{\"crumbs\":\"").append(rnd.nextInt(24))
      .append("\"}}},\"payload\":\"").append(java.lang.Long.toHexString(rnd.nextLong()))
      .append("\"}")
    sb.toString
  }

  /** Write one BSM object (config2Record shape plus the `bsm` core data). */
  def writeBsm(dir: File, f: BsmFile, seed: Long): Expect = {
    val rnd = new SplittableRandom(seed ^ f.name.hashCode.toLong * 0xBF58476D1CE4E5B9L)
    val idx = shuffled(f.records, rnd)
    val defectAt = idx.take(f.ruleDefects).zipWithIndex.map { case (r, k) => r -> k % 3 }.toMap
    val corruptAt = idx.slice(f.ruleDefects, f.ruleDefects + f.corruptLines).toSet
    val blankAt = idx.slice(0, f.blankLines).toSet
    var t = StartMillis + rnd.nextInt(1000000) * 1000L
    withOut(new File(dir, f.name), f.gzip) { out =>
      for (i <- 0 until f.records) {
        val line = bsmLine(rnd, i, t, defectAt.getOrElse(i, -1))
        t += 100L
        // cut inside the first key: no field value survives the cut
        val text = if (corruptAt.contains(i)) line.substring(0, 24) else line
        out.write(text.getBytes(UTF_8)); out.write('\n')
        if (blankAt.contains(i)) out.write("\n".getBytes(UTF_8))
      }
    }
    Expect(f.name, f.records, WideRuleCount,
      ruleErrors = f.ruleDefects + f.corruptLines.toLong * WideRuleCount,
      errorRecords = f.ruleDefects + f.corruptLines, seqErrors = None)
  }

  // ------------------------------------------------------------------ cache

  /** Generate into `dir` once per seed and file specs; later runs read the
    * expected counts back from `expect.tsv`. */
  def cached(dir: File)(make: => Seq[Expect]): Seq[Expect] = {
    val tsv = new File(dir, "expect.tsv").toPath
    Common.cached(dir) { _ =>
      val ex = make
      java.nio.file.Files.write(tsv, ex.map(e => Seq(e.name, e.records, e.validationsPerRecord,
        e.ruleErrors, e.errorRecords, e.seqErrors.getOrElse(-1L)).mkString("\t"))
        .mkString("", "\n", "\n").getBytes(UTF_8))
      ex
    } { _ =>
      java.nio.file.Files.readAllLines(tsv).asScala.toSeq.map { l =>
        val a = l.split('\t')
        Expect(a(0), a(1).toLong, a(2).toInt, a(3).toLong, a(4).toLong, Some(a(5).toLong).filter(_ >= 0))
      }
    }
  }

  // ------------------------------------------------------------------ helpers

  private def shuffled(n: Int, rnd: SplittableRandom): Array[Int] = {
    val a = (0 until n).toArray
    for (i <- n - 1 until 0 by -1) {
      val j = rnd.nextInt(i + 1); val x = a(i); a(i) = a(j); a(j) = x
    }
    a
  }

  private def withOut(file: File, gzip: Boolean)(body: OutputStream => Unit): Unit = {
    file.getParentFile.mkdirs()
    val raw = new BufferedOutputStream(new FileOutputStream(file), 1 << 16)
    val out = if (gzip) new GZIPOutputStream(raw, 1 << 16) else raw
    try body(out) finally out.close()
  }
}
