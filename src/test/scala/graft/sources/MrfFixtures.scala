package graft.sources

import java.io.{File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.zip.GZIPOutputStream

/** Freshly synthesized CMS in-network-rates fixtures (shapes follow the
  * public CMSgov price-transparency-guide schema catalogued in
  * /root/repo/FIXTURES.md §3 — no bytes copied from the reference).
  */
object MrfFixtures {

  /** FFS file: provider_references top array (int-ref AND location
    * variants), in_network with nested rates/prices, trailing header
    * member. Known values: billing_code 27447/CPT, first rate 123.45.
    */
  val ffs: String =
    """{
      |  "reporting_entity_name": "graft health",
      |  "reporting_entity_type": "payer",
      |  "plan_name": "graft ppo",
      |  "plan_id_type": "EIN",
      |  "plan_id": "12-3456789",
      |  "plan_market_type": "group",
      |  "last_updated_on": "2026-08-01",
      |  "version": "1.0.0",
      |  "provider_references": [
      |    {"provider_group_id": 100, "provider_groups": [{"npi": [1111111111, 2222222222], "tin": {"type": "ein", "value": "11-1111111"}}]},
      |    {"provider_group_id": 200, "provider_groups": [{"npi": [3333333333], "tin": {"type": "ein", "value": "22-2222222"}}]},
      |    {"provider_group_id": 300, "location": "https://example.test/groups/300.json"}
      |  ],
      |  "in_network": [
      |    {"negotiation_arrangement": "ffs", "name": "KNEE ARTHROPLASTY", "billing_code_type": "CPT", "billing_code_type_version": "2026", "billing_code": "27447", "description": "total knee arthroplasty", "negotiated_rates": [
      |      {"provider_references": [100, 200], "negotiated_prices": [
      |        {"negotiated_type": "negotiated", "negotiated_rate": 123.45, "expiration_date": "9999-12-31", "service_code": ["21", "22"], "billing_class": "institutional"}]},
      |      {"provider_groups": [{"npi": [4444444444], "tin": {"type": "npi", "value": "4444444444"}}], "negotiated_prices": [
      |        {"negotiated_type": "negotiated", "negotiated_rate": 321.99, "expiration_date": "9999-12-31", "service_code": ["11"], "billing_class": "professional", "billing_code_modifier": ["26"]}]}
      |    ]},
      |    {"negotiation_arrangement": "ffs", "name": "OFFICE VISIT", "billing_code_type": "CPT", "billing_code_type_version": "2026", "billing_code": "99213", "description": "established patient office visit", "negotiated_rates": [
      |      {"provider_references": [300], "negotiated_prices": [
      |        {"negotiated_type": "negotiated", "negotiated_rate": 88.1, "expiration_date": "9999-12-31", "service_code": ["11"], "billing_class": "professional"}]}
      |    ]}
      |  ]
      |}""".stripMargin

  /** Bundle arrangement, no provider_references top array. */
  val bundle: String =
    """{
      |  "reporting_entity_name": "graft health",
      |  "reporting_entity_type": "payer",
      |  "last_updated_on": "2026-08-01",
      |  "version": "1.0.0",
      |  "in_network": [
      |    {"negotiation_arrangement": "bundle", "name": "MATERNITY BUNDLE", "billing_code_type": "CSTM", "billing_code_type_version": "2026", "billing_code": "B100", "description": "maternity bundle", "negotiated_rates": [
      |      {"provider_groups": [{"npi": [5555555555], "tin": {"type": "ein", "value": "33-3333333"}}], "negotiated_prices": [
      |        {"negotiated_type": "negotiated", "negotiated_rate": 9100.0, "expiration_date": "9999-12-31", "billing_class": "institutional"}]}],
      |     "bundled_codes": [
      |      {"billing_code_type": "CPT", "billing_code_type_version": "2026", "billing_code": "59400", "description": "obstetric care"},
      |      {"billing_code_type": "CPT", "billing_code_type_version": "2026", "billing_code": "59409", "description": "delivery"}]}
      |  ]
      |}""".stripMargin

  /** Capitation arrangement with covered_services (FIXTURES.md §1). */
  val capitation: String =
    """{
      |  "reporting_entity_name": "graft health",
      |  "reporting_entity_type": "payer",
      |  "last_updated_on": "2026-08-01",
      |  "version": "1.0.0",
      |  "in_network": [
      |    {"negotiation_arrangement": "capitation", "name": "PRIMARY CARE CAP", "billing_code_type": "CSTM", "billing_code_type_version": "2026", "billing_code": "C200", "description": "pcp capitation", "negotiated_rates": [
      |      {"provider_groups": [{"npi": [6666666666], "tin": {"type": "ein", "value": "44-4444444"}}], "negotiated_prices": [
      |        {"negotiated_type": "negotiated", "negotiated_rate": 42.5, "expiration_date": "9999-12-31", "billing_class": "professional"}]}],
      |     "covered_services": [
      |      {"billing_code_type": "CPT", "billing_code_type_version": "2026", "billing_code": "99213", "description": "office visit"},
      |      {"billing_code_type": "CPT", "billing_code_type_version": "2026", "billing_code": "99214", "description": "office visit extended"}]}
      |  ]
      |}""".stripMargin

  /** Multiple-plans shape: no plan_* header members, in_network only. */
  val multiPlan: String =
    """{
      |  "reporting_entity_name": "graft multi",
      |  "reporting_entity_type": "payer",
      |  "last_updated_on": "2026-08-01",
      |  "version": "1.0.0",
      |  "in_network": [
      |    {"negotiation_arrangement": "ffs", "name": "XRAY", "billing_code_type": "CPT", "billing_code_type_version": "2026", "billing_code": "71045", "description": "chest xray", "negotiated_rates": [
      |      {"provider_groups": [{"npi": [7777777777], "tin": {"type": "ein", "value": "55-5555555"}}], "negotiated_prices": [
      |        {"negotiated_type": "negotiated", "negotiated_rate": 55.0, "expiration_date": "9999-12-31", "service_code": ["22"], "billing_class": "institutional"}]}]}
      |  ]
      |}""".stripMargin

  /** The start of [[ffs]]'s second in_network item (99213). */
  private val officeVisit = """{"negotiation_arrangement": "ffs", "name": "OFFICE VISIT""""

  /** [[ffs]] with three more in_network elements between its two items:
    * one that does not parse (a member without its colon), an empty
    * object, and a third code, T1, whose one price has a string rate.
    * The first two carry no field and drop alone; T1 keeps its row, its
    * mistyped price parsing to nulls.
    */
  val malformedElement: String = ffs.replace(officeVisit,
    """{"negotiation_arrangement" "ffs", "billing_code": "00000"},
      |    {},
      |    {"negotiation_arrangement": "ffs", "name": "MISTYPED", "billing_code_type": "CPT", "billing_code_type_version": "2026", "billing_code": "T1", "negotiated_rates": [
      |      {"provider_references": [100], "negotiated_prices": [{"negotiated_type": "negotiated", "negotiated_rate": "abc"}]}]},
      |    """.stripMargin + officeVisit)

  /** [[ffs]] with its 99213 item listed twice, the copy differing only
    * in the whitespace after one colon.
    */
  val whitespaceTwins: String = {
    val start = ffs.indexOf(officeVisit)
    val end = ffs.lastIndexOf("]}") + 2
    val item = ffs.substring(start, end)
    ffs.substring(0, end) + ",\n    " + item.replaceFirst(": \"ffs\"", ":  \"ffs\"") +
      ffs.substring(end)
  }

  def writeTemp(name: String, content: String, gz: Boolean = false): File = {
    val dir = Files.createTempDirectory("mrf-fixture").toFile
    val f = new File(dir, name)
    if (gz) {
      val out = new GZIPOutputStream(new FileOutputStream(f))
      try out.write(content.getBytes(UTF_8)) finally out.close()
    } else Files.write(f.toPath, content.getBytes(UTF_8))
    f
  }
}
