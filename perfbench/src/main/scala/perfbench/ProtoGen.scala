package perfbench

import java.io.{ByteArrayOutputStream, File}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import graft.io.ProtoIngest._

/** Seeded generator of ads-row-like proto3 messages in the replay-cache (S2)
  * format: a base64 query line, then one base64 message per line.
  *
  * Every generated value is non-default (non-empty strings, non-zero
  * enums, non-empty repeated and map fields), so the projected output of a
  * message is exactly its generated values: [[expected]] computes the output
  * rows' canonical form from the generator's own values, with no reading of
  * the library's output.
  */
object ProtoGen {

  /** A generated message: field name → value. Values are Long, Int,
    * Double, Boolean, String (enum symbols too), Seq, Map[String, String]
    * or a nested Msg. */
  type Msg = Map[String, Any]

  private def enumOf(name: String, syms: String*): PEnum =
    PEnum(syms.zipWithIndex.map { case (s, i) => i -> s }.toMap, name)

  val Status = enumOf("Status", "STATUS_UNSPECIFIED", "ENABLED", "PAUSED", "REMOVED")
  val Channel = enumOf("Channel", "CHANNEL_UNSPECIFIED", "SEARCH", "DISPLAY", "SHOPPING", "VIDEO")
  val Bidding = enumOf("BiddingType", "BIDDING_UNSPECIFIED", "TARGET_CPA", "TARGET_ROAS", "MANUAL_CPC")
  val AdGroupType = enumOf("AdGroupType", "AD_GROUP_TYPE_UNSPECIFIED", "SEARCH_STANDARD", "DISPLAY_STANDARD")
  val CriterionType = enumOf("CriterionType", "CRITERION_UNSPECIFIED", "KEYWORD", "PLACEMENT", "AUDIENCE")
  val MatchType = enumOf("MatchType", "MATCH_UNSPECIFIED", "EXACT", "PHRASE", "BROAD")
  val Device = enumOf("Device", "DEVICE_UNSPECIFIED", "MOBILE", "DESKTOP", "TABLET")
  val Network = enumOf("Network", "NETWORK_UNSPECIFIED", "SEARCH_NETWORK", "CONTENT", "YOUTUBE")
  val DayOfWeek = enumOf("DayOfWeek", "DAY_UNSPECIFIED", "MONDAY", "TUESDAY", "WEDNESDAY",
    "THURSDAY", "FRIDAY", "SATURDAY", "SUNDAY")

  val BiddingStrategy = PMessage("BiddingStrategy", Seq(
    PField(1, "type", Bidding), PField(2, "target_cpa_micros", PInt64),
    PField(3, "target_roas", PDouble)))
  val Campaign = PMessage("Campaign", Seq(
    PField(1, "id", PInt64), PField(2, "name", PString), PField(3, "status", Status),
    PField(4, "channel", Channel), PField(5, "start_date", PString),
    PField(6, "end_date", PString), PField(7, "labels", PString, repeated = true),
    PField(8, "bidding", PNested(BiddingStrategy))))
  val AdGroup = PMessage("AdGroup", Seq(
    PField(1, "id", PInt64), PField(2, "name", PString), PField(3, "status", Status),
    PField(4, "cpc_bid_micros", PInt64), PField(5, "type", AdGroupType)))
  val Keyword = PMessage("Keyword", Seq(
    PField(1, "text", PString), PField(2, "match_type", MatchType)))
  val Criterion = PMessage("Criterion", Seq(
    PField(1, "criterion_id", PInt64), PField(2, "type", CriterionType),
    PField(3, "keyword", PNested(Keyword)), PField(4, "negative", PBool),
    PField(5, "quality_score", PInt32), PField(6, "final_urls", PString, repeated = true)))
  val Metrics = PMessage("Metrics", Seq(
    PField(1, "impressions", PInt64), PField(2, "clicks", PInt64),
    PField(3, "cost_micros", PInt64), PField(4, "conversions", PDouble),
    PField(5, "ctr", PDouble), PField(6, "average_cpc", PDouble),
    PField(7, "all_conversions", PDouble), PField(8, "view_through_conversions", PInt64),
    PField(9, "interactions", PInt64), PField(10, "video_views", PInt64)))
  val Segments = PMessage("Segments", Seq(
    PField(1, "date", PString), PField(2, "device", Device),
    PField(3, "network", Network), PField(4, "day_of_week", DayOfWeek),
    PField(5, "hour", PInt32)))
  val Customer = PMessage("Customer", Seq(
    PField(1, "id", PInt64), PField(2, "descriptive_name", PString),
    PField(3, "currency_code", PString), PField(4, "time_zone", PString)))
  val ChangeEvent = PMessage("ChangeEvent", Seq(
    PField(1, "resource_name", PString), PField(2, "change_date_time", PString),
    PField(3, "user_email", PString)))
  val AdsRow = PMessage("AdsRow", Seq(
    PField(1, "campaign", PNested(Campaign)), PField(2, "ad_group", PNested(AdGroup)),
    PField(3, "ad_group_criterion", PNested(Criterion)), PField(4, "metrics", PNested(Metrics)),
    PField(5, "segments", PNested(Segments)), PField(6, "customer", PNested(Customer)),
    PField(7, "custom_params", PMap(PString, PString)),
    PField(8, "label_ids", PInt64, repeated = true),
    PField(9, "change_event", PNested(ChangeEvent)),
    PField(10, "resource_status", Status)))

  val DescriptorName = "perfbench_ads_row"
  val QueryText = "SELECT campaign, ad_group, ad_group_criterion, metrics, segments, " +
    "customer FROM ad_group_criterion"

  /** The projected leaf paths. `change_event` is carried by every message
    * and never projected, so its decode is skipped by descriptor pruning. */
  val Fields: List[String] = List(
    "campaign.id", "campaign.name", "campaign.status", "campaign.channel",
    "campaign.start_date", "campaign.end_date", "campaign.labels",
    "campaign.bidding.type", "campaign.bidding.target_cpa_micros", "campaign.bidding.target_roas",
    "ad_group.id", "ad_group.name", "ad_group.status", "ad_group.cpc_bid_micros", "ad_group.type",
    "ad_group_criterion.criterion_id", "ad_group_criterion.type",
    "ad_group_criterion.keyword.text", "ad_group_criterion.keyword.match_type",
    "ad_group_criterion.negative", "ad_group_criterion.quality_score",
    "ad_group_criterion.final_urls",
    "metrics.impressions", "metrics.clicks", "metrics.cost_micros", "metrics.conversions",
    "metrics.ctr", "metrics.average_cpc", "metrics.all_conversions",
    "metrics.view_through_conversions", "metrics.interactions", "metrics.video_views",
    "segments.date", "segments.device", "segments.network", "segments.day_of_week",
    "segments.hour", "customer.id", "customer.descriptive_name", "customer.currency_code",
    "custom_params", "label_ids", "resource_status")

  /** The GAQL-style WHERE: the top-level enum is gated in the scan, the
    * nested comparison above it. */
  val Where = "resource_status = 'ENABLED' AND metrics.impressions >= 100"

  private def passes(m: Msg): Boolean =
    m("resource_status") == "ENABLED" &&
      m("metrics").asInstanceOf[Msg]("impressions").asInstanceOf[Long] >= 100L

  /** The report declaration: the projection plus three user-defined
    * mappings — a constant, a scalar flatten and a struct. */
  def reportJson(avroOut: String, jsonOut: String): String = {
    val fields = Fields.map(f => "\"" + f + "\"").mkString(", ")
    s"""{"table": "ads_row", "fields": [$fields],
       | "where": "$Where",
       | "mappings": [
       |   {"name": "report_source", "constant": "perfbench"},
       |   {"name": "campaign_id_flat", "scalar": "campaign.id"},
       |   {"name": "report_meta", "record": "ReportMeta", "fields": [
       |     {"name": "customer_name", "scalar": "customer.descriptive_name"},
       |     {"name": "report_kind", "constant": "criterion_structure"}]}],
       | "sinks": [{"format": "avro", "path": "$avroOut"},
       |           {"format": "json", "path": "$jsonOut"}]}""".stripMargin
  }

  // ------------------------------------------------------------ generation
  private val words = Vector("alpine", "harbor", "copper", "meadow", "summit", "lantern",
    "orchid", "granite", "willow", "ember", "falcon", "tundra", "saffron", "cobalt",
    "juniper", "delta", "quartz", "maple", "nimbus", "ridge")

  private def word(r: SplittableRandom): String = words(r.nextInt(words.length))
  private def pick(r: SplittableRandom, e: PEnum): String = e.symbols(1 + r.nextInt(e.symbols.size - 1))
  private def date(r: SplittableRandom): String =
    f"2024-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d"
  private def money(r: SplittableRandom): Double = (1 + r.nextInt(1000000)) / 100.0

  def message(r: SplittableRandom): Msg = Map(
    "campaign" -> Map(
      "id" -> (1L + r.nextInt(1 << 30)), "name" -> s"${word(r)} ${word(r)} campaign",
      "status" -> pick(r, Status), "channel" -> pick(r, Channel),
      "start_date" -> date(r), "end_date" -> date(r),
      "labels" -> Seq.fill(1 + r.nextInt(3))(word(r)),
      "bidding" -> Map("type" -> pick(r, Bidding),
        "target_cpa_micros" -> (1L + r.nextInt(50000000)), "target_roas" -> money(r))),
    "ad_group" -> Map(
      "id" -> (1L + r.nextInt(1 << 30)), "name" -> s"${word(r)} group",
      "status" -> pick(r, Status), "cpc_bid_micros" -> (1L + r.nextInt(9000000)),
      "type" -> pick(r, AdGroupType)),
    "ad_group_criterion" -> Map(
      "criterion_id" -> (1L + r.nextInt(1 << 30)), "type" -> pick(r, CriterionType),
      "keyword" -> Map("text" -> s"${word(r)} ${word(r)}", "match_type" -> pick(r, MatchType)),
      "negative" -> r.nextBoolean(), "quality_score" -> (1 + r.nextInt(10)),
      "final_urls" -> Seq.fill(1 + r.nextInt(2))(s"https://example.com/${word(r)}/${r.nextInt(1000)}")),
    "metrics" -> Map(
      "impressions" -> (1L + r.nextInt(400)), "clicks" -> (1L + r.nextInt(50)),
      "cost_micros" -> (1L + r.nextInt(90000000)), "conversions" -> money(r),
      "ctr" -> (1 + r.nextInt(9999)) / 10000.0, "average_cpc" -> money(r),
      "all_conversions" -> money(r), "view_through_conversions" -> (1L + r.nextInt(100)),
      "interactions" -> (1L + r.nextInt(500)), "video_views" -> (1L + r.nextInt(5000))),
    "segments" -> Map(
      "date" -> date(r), "device" -> pick(r, Device), "network" -> pick(r, Network),
      "day_of_week" -> pick(r, DayOfWeek), "hour" -> (1 + r.nextInt(23))),
    "customer" -> Map(
      "id" -> (1L + r.nextInt(1 << 30)), "descriptive_name" -> s"${word(r)} ${word(r)} GmbH",
      "currency_code" -> Seq("EUR", "USD", "CHF", "GBP")(r.nextInt(4)),
      "time_zone" -> Seq("Europe/Berlin", "America/New_York", "Asia/Tokyo")(r.nextInt(3))),
    "custom_params" -> (1 to 1 + r.nextInt(3)).map(i => s"k$i" -> word(r)).toMap,
    "label_ids" -> Seq.fill(1 + r.nextInt(4))(1L + r.nextInt(100000)),
    "change_event" -> Map(
      "resource_name" -> s"customers/${r.nextInt(100000)}/campaigns/${r.nextInt(100000)}",
      "change_date_time" -> s"${date(r)} 12:00:00", "user_email" -> s"${word(r)}@example.com"),
    "resource_status" -> (if (r.nextInt(10) < 8) "ENABLED" else "PAUSED"))

  // ------------------------------------------------------------- encoding
  def encode(m: Msg, d: PMessage): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeMessage(out, m, d)
    out.toByteArray
  }

  private def varint(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }
  private def tag(out: ByteArrayOutputStream, n: Int, wire: Int): Unit = varint(out, (n << 3 | wire).toLong)
  private def bytesField(out: ByteArrayOutputStream, n: Int, b: Array[Byte]): Unit = {
    tag(out, n, 2); varint(out, b.length.toLong); out.write(b, 0, b.length)
  }

  private def writeScalar(out: ByteArrayOutputStream, n: Int, t: PType, v: Any): Unit = t match {
    case PInt64 => tag(out, n, 0); varint(out, v.asInstanceOf[Long])
    case PInt32 => tag(out, n, 0); varint(out, v.asInstanceOf[Int].toLong)
    case PBool => tag(out, n, 0); varint(out, if (v.asInstanceOf[Boolean]) 1L else 0L)
    case PDouble =>
      tag(out, n, 1)
      val bits = java.lang.Double.doubleToLongBits(v.asInstanceOf[Double])
      (0 until 8).foreach(i => out.write(((bits >>> (8 * i)) & 0xff).toInt))
    case PString => bytesField(out, n, v.asInstanceOf[String].getBytes(UTF_8))
    case PEnum(syms, _) =>
      tag(out, n, 0); varint(out, syms.collectFirst { case (k, s) if s == v => k.toLong }.get)
    case PNested(sub) => bytesField(out, n, encode(v.asInstanceOf[Msg], sub))
    case other => throw new IllegalArgumentException(s"generator does not write $other")
  }

  private def writeMessage(out: ByteArrayOutputStream, m: Msg, d: PMessage): Unit =
    d.fields.foreach { f =>
      val v = m(f.name)
      f.ptype match {
        case PMap(kt, vt) =>
          v.asInstanceOf[Map[String, Any]].toSeq.sortBy(_._1).foreach { case (k, x) =>
            val e = new ByteArrayOutputStream()
            writeScalar(e, 1, kt, k); writeScalar(e, 2, vt, x)
            bytesField(out, f.number, e.toByteArray)
          }
        case PInt64 if f.repeated => // packed, as proto3 writes numeric repeats
          val p = new ByteArrayOutputStream()
          v.asInstanceOf[Seq[Long]].foreach(x => varint(p, x))
          bytesField(out, f.number, p.toByteArray)
        case t if f.repeated => v.asInstanceOf[Seq[Any]].foreach(x => writeScalar(out, f.number, t, x))
        case t => writeScalar(out, f.number, t, v)
      }
    }

  // ---------------------------------------------------- expected outputs
  /** The output row a message projects to, or None if the WHERE drops it:
    * the selected paths' subtree plus the three mappings. */
  def project(m: Msg): Option[Msg] =
    if (!passes(m)) None
    else {
      val base = Fields.foldLeft(Map.empty[String, Any]) { (acc, p) => put(acc, p.split('.').toList, m) }
      Some(base ++ Map(
        "report_source" -> "perfbench",
        "campaign_id_flat" -> m("campaign").asInstanceOf[Msg]("id"),
        "report_meta" -> Map(
          "customer_name" -> m("customer").asInstanceOf[Msg]("descriptive_name"),
          "report_kind" -> "criterion_structure")))
    }

  private def put(acc: Msg, path: List[String], src: Msg): Msg = path match {
    case Nil => acc
    case last :: Nil => acc.updated(last, src(last))
    case head :: rest =>
      val sub = acc.getOrElse(head, Map.empty[String, Any]).asInstanceOf[Msg]
      acc.updated(head, put(sub, rest, src(head).asInstanceOf[Msg]))
  }

  /** A slice of the replay cache: `files` files of `perFile` messages,
    * with the row count and order-independent hash the report over it must
    * produce. */
  final case class Slice(dir: File, messages: Int, bytes: Long, rows: Long, hash: Long)

  def writeSlice(dir: File, seed: Long, index: Int, files: Int, perFile: Int): Slice = {
    dir.mkdirs()
    val b64 = java.util.Base64.getEncoder
    var rows = 0L
    var hash = 0L
    var bytes = 0L
    (0 until files).foreach { f =>
      val r = new SplittableRandom(Seeds.mix(seed, 1000003L * index + f))
      val sb = new java.lang.StringBuilder(perFile * 800)
      sb.append(b64.encodeToString(QueryText.getBytes(UTF_8)))
      (0 until perFile).foreach { _ =>
        val m = message(r)
        sb.append('\n').append(b64.encodeToString(encode(m, AdsRow)))
        project(m).foreach { row => rows += 1; hash += Canon.hash(row) }
      }
      sb.append('\n')
      val data = sb.toString.getBytes(UTF_8)
      java.nio.file.Files.write(new File(dir, f"part-$f%03d.txt").toPath, data)
      bytes += data.length
    }
    Slice(dir, files * perFile, bytes, rows, hash)
  }
}
