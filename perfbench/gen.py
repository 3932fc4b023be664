"""Seeded DMARC input generator for the benchmark.

Everything the workloads feed the program comes from here, and the same
seed always gives the same bytes:

- ``Vocab``: the shared universe — reporting orgs, policy domains, a
  source-IP pool, a GeoLite2-style blocks/locations CSV pair covering
  part of that pool, and an (ip, hostname) PTR dim whose hostnames are
  drawn from the vendored ``base_reverse_dns_map.csv``.
- ``make_corpus``: report *files* — aggregate XML raw / gzip / zip /
  MIME+base64 ``.eml``, forensic ``.eml``, SMTP-TLS JSON and a planted
  malformed share — plus a per-file expectation record.
- ``make_warehouse_tables``: flat table rows straight from the same
  vocabularies (no files), for the dashboards warehouse.

Nothing is downloaded and no DNS is queried: the enrichment inputs are
files this module writes.
"""

from __future__ import annotations

import base64
import csv
import gzip
import io
import json
import os
import random
import zipfile
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# The ingest clock and the dashboards' "now": every generated date lies
# in the 13 months before it, so 7- and 30-day panels prune partitions.
AS_OF = "2024-10-01 00:00:00"
AS_OF_EPOCH = 1_727_740_800
MONTHS = 13
DAY = 86_400
WINDOW_S = MONTHS * 30 * DAY

# the reference's largest aggregate sample has 2,286 records
MAX_RECORDS = 2286

ORGS = [
    "google.com", "Yahoo", "Mail.Ru", "Outlook.com", "Comcast", "Fastmail",
    "Zoho", "GMX", "Yandex", "Proton", "Apple", "AOL", "Seznam", "Orange",
    "Web.de", "Naver",
]
COUNTRIES = [
    ("United States", "Ashburn"), ("Germany", "Frankfurt"), ("France", "Paris"),
    ("Netherlands", "Amsterdam"), ("United Kingdom", "London"), ("Japan", "Tokyo"),
    ("Brazil", "Sao Paulo"), ("India", "Mumbai"), ("Canada", "Toronto"),
    ("Australia", "Sydney"), ("Russia", "Moscow"), ("China", "Beijing"),
    ("Singapore", "Singapore"), ("Ireland", "Dublin"), ("Sweden", "Stockholm"),
    ("Poland", "Warsaw"), ("Spain", "Madrid"), ("Italy", "Milan"),
    ("South Korea", "Seoul"), ("Mexico", "Mexico City"),
]
DISPOSITIONS = ["none", "none", "none", "quarantine", "reject"]
DELIVERY = ["delivered", "spam", "policy", "reject", "other"]
TLS_RESULTS = [
    "certificate-expired", "starttls-not-supported", "validation-failure",
    "certificate-host-mismatch", "sts-policy-invalid",
]
# file kinds and their share of a corpus; "bad_*" are the planted rejects
MIX = [
    ("agg_xml", 0.30), ("agg_gz", 0.18), ("agg_zip", 0.14), ("agg_eml", 0.14),
    ("forensic", 0.09), ("tls", 0.07),
    ("bad_truncated", 0.02), ("bad_span", 0.02), ("bad_garbage", 0.02), ("bad_tls", 0.02),
]
# (table, kind, error) each planted reject lands as in the quarantine
REJECT_REASON = {
    "bad_truncated": ("aggregate", "xml parse failed"),
    "bad_span": ("aggregate", "time span > 24 hours - RFC 7489 section 7.2"),
    "bad_garbage": ("unknown", "unrecognized report format"),
    "bad_tls": ("smtp_tls", "json parse failed"),
}
TABLES = (
    "aggregate_reports", "aggregate_records", "forensic_reports",
    "smtp_tls_reports", "smtp_tls_failures",
)
DNS_MAP = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "parsedmarc_go_spark", "resources", "maps", "base_reverse_dns_map.csv",
)
# base_domain() keeps three labels for these; a two-label map key would
# never match a hostname under them
_CDN_BASES = {"cloudfront.net", "fastly.com", "herokuapp.com", "akamaiedge.net"}


def _ip(v: int) -> str:
    return f"{v >> 24}.{(v >> 16) & 255}.{(v >> 8) & 255}.{v & 255}"


@dataclass
class Vocab:
    """The seeded universe shared by the corpus and the warehouse."""

    domains: list[str]
    ips: list[str]
    geo: dict[str, str]  # ip -> country, for pool IPs inside a geo block
    ptr: dict[str, str]  # ip -> hostname
    sender: dict[str, str]  # ip -> sender name, when the PTR base is in the map
    sender_type: dict[str, str]
    blocks: list[tuple[str, int]] = field(default_factory=list)  # (cidr, geoname_id)


def make_vocab(seed: int, n_ips: int = 3000) -> Vocab:
    rng = random.Random(seed * 7919 + 1)
    with open(DNS_MAP, newline="", encoding="utf-8") as fh:
        rows = list(csv.DictReader(fh))
    bases = sorted(
        {(r["base_reverse_dns"].lower(), r["name"], r["type"]) for r in rows
         if r["base_reverse_dns"].count(".") == 1 and r["base_reverse_dns"].lower() not in _CDN_BASES}
    )
    nets = sorted(rng.sample(range(1 << 16, 224 << 16), 900))  # /24 prefixes
    blocks = [(f"{_ip(n << 8)}/24", 1000 + rng.randrange(len(COUNTRIES))) for n in nets]
    geo_by_net = {n: COUNTRIES[g - 1000][0] for n, (_, g) in zip(nets, blocks)}
    ips, geo, ptr, sender, sender_type = [], {}, {}, {}, {}
    seen: set[int] = set()
    while len(ips) < n_ips:
        if rng.random() < 0.75:
            v = (rng.choice(nets) << 8) | rng.randrange(1, 255)
        else:
            v = rng.randrange(1 << 24, 224 << 24)
        if v in seen:
            continue
        seen.add(v)
        ip = _ip(v)
        ips.append(ip)
        if (v >> 8) in geo_by_net:
            geo[ip] = geo_by_net[v >> 8]
        u = rng.random()
        if u < 0.55:
            base, name, typ = rng.choice(bases)
            ptr[ip] = f"mx{rng.randrange(100)}-{v & 255}.{base}"
            sender[ip], sender_type[ip] = name, typ
        elif u < 0.70:
            ptr[ip] = f"host-{v & 255}.pool{rng.randrange(50)}.unlisted-isp.test"
    domains = [f"brand{i:02d}.example.com" for i in range(24)]
    return Vocab(domains, ips, geo, ptr, sender, sender_type, blocks)


def write_dims(vocab: Vocab, out_dir: str) -> dict[str, str]:
    """GeoLite2-style blocks + locations CSVs and the PTR dim CSV."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {k: os.path.join(out_dir, f"{k}.csv") for k in ("geo_blocks", "geo_locations", "ptr")}
    with open(paths["geo_blocks"], "w", encoding="utf-8") as fh:
        fh.write("network,geoname_id,registered_country_geoname_id\n")
        for cidr, gid in vocab.blocks:
            fh.write(f"{cidr},{gid},{gid}\n")
    with open(paths["geo_locations"], "w", encoding="utf-8") as fh:
        fh.write("geoname_id,country_name,city_name\n")
        for i, (country, city) in enumerate(COUNTRIES):
            fh.write(f"{1000 + i},{country},{city}\n")
    with open(paths["ptr"], "w", encoding="utf-8") as fh:
        fh.write("ip,hostname\n")
        for ip in sorted(vocab.ptr):
            fh.write(f"{ip},{vocab.ptr[ip]}\n")
    return paths


# --- report payloads ---------------------------------------------------------

def _n_records(rng: random.Random) -> int:
    """Pareto(alpha=1.16, x_m=2) record count, capped at the reference's
    largest sample: most reports are small, a few are huge."""
    return min(MAX_RECORDS, int(2 * (1.0 - rng.random()) ** (-1 / 1.16)))


def _agg_report(rng: random.Random, vocab: Vocab, rid: str, begin: int, span: int):
    """One aggregate report as XML bytes plus its expected effect."""
    org = rng.choice(ORGS)
    domain = rng.choice(vocab.domains)
    n = _n_records(rng)
    recs, total, geo_hits, sender_hits = [], 0, 0, 0
    for _ in range(n):
        ip = rng.choice(vocab.ips)
        count = rng.randrange(1, 400)
        dkim = rng.choice(("pass", "pass", "fail"))
        spf = rng.choice(("pass", "fail"))
        reason = (
            "<reason><type>forwarded</type><comment>list</comment></reason>"
            if rng.random() < 0.1 else ""
        )
        recs.append(
            f"<record><row><source_ip>{ip}</source_ip><count>{count}</count>"
            f"<policy_evaluated><disposition>{rng.choice(DISPOSITIONS)}</disposition>"
            f"<dkim>{dkim}</dkim><spf>{spf}</spf>{reason}</policy_evaluated></row>"
            f"<identifiers><header_from>{domain}</header_from>"
            f"<envelope_from>{domain}</envelope_from></identifiers>"
            f"<auth_results><dkim><domain>{domain}</domain><selector>s{rng.randrange(4)}</selector>"
            f"<result>{dkim}</result></dkim><spf><domain>{domain}</domain>"
            f"<result>{spf}</result></spf></auth_results></record>"
        )
        total += count
        geo_hits += ip in vocab.geo
        sender_hits += ip in vocab.sender
    xml = (
        '<?xml version="1.0" encoding="UTF-8"?>\n<feedback><version>1.0</version>'
        f"<report_metadata><org_name>{org}</org_name><email>noreply-dmarc@{org.lower()}</email>"
        f"<report_id>{rid}</report_id><date_range><begin>{begin}</begin>"
        f"<end>{begin + span}</end></date_range></report_metadata>"
        f"<policy_published><domain>{domain}</domain><adkim>r</adkim><aspf>r</aspf>"
        f"<p>{rng.choice(('none', 'quarantine', 'reject'))}</p><pct>100</pct></policy_published>"
        + "".join(recs)
        + "</feedback>\n"
    ).encode()
    return xml, {"records": n, "count_sum": total, "geo_hits": geo_hits, "sender_hits": sender_hits}


def _gz(data: bytes) -> bytes:
    return gzip.compress(data, mtime=0)


def _zip(name: str, data: bytes) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr(zipfile.ZipInfo(name, date_time=(2024, 1, 1, 0, 0, 0)), data)
    return buf.getvalue()


def _b64_lines(data: bytes) -> str:
    enc = base64.b64encode(data).decode()
    return "\r\n".join(enc[i : i + 76] for i in range(0, len(enc), 76))


def _mime_aggregate(rid: str, org: str, attachment: bytes, fname: str) -> bytes:
    return (
        f"From: noreply-dmarc@{org.lower()}\r\nTo: dmarc@brand.example.com\r\n"
        f"Subject: Report Domain: brand.example.com Report-ID: {rid}\r\n"
        "MIME-Version: 1.0\r\n"
        'Content-Type: multipart/mixed; boundary="b1"\r\n\r\n'
        "--b1\r\nContent-Type: text/plain\r\n\r\nDMARC aggregate report.\r\n"
        f'--b1\r\nContent-Type: application/zip; name="{fname}"\r\n'
        "Content-Transfer-Encoding: base64\r\n"
        f'Content-Disposition: attachment; filename="{fname}"\r\n\r\n'
        f"{_b64_lines(attachment)}\r\n--b1--\r\n"
    ).encode()


def _forensic(rng: random.Random, vocab: Vocab, i: int, when: int) -> tuple[bytes, dict]:
    ip = rng.choice(vocab.ips)
    domain = rng.choice(vocab.domains)
    from email.utils import formatdate

    date = formatdate(when, usegmt=True)
    eml = (
        f"From: abuse@{rng.choice(ORGS).lower()}\r\nTo: ruf@{domain}\r\n"
        f"Subject: DMARC failure report for {domain}\r\nDate: {date}\r\n"
        f"Message-ID: <fr-{i}@bench.test>\r\nMIME-Version: 1.0\r\n"
        'Content-Type: multipart/report; report-type=feedback-report; boundary="fb"\r\n\r\n'
        "--fb\r\nContent-Type: text/plain\r\n\r\nThis is an authentication failure report.\r\n"
        "--fb\r\nContent-Type: message/feedback-report\r\n\r\n"
        "Feedback-Type: auth-failure\r\nUser-Agent: bench/1.0\r\nVersion: 1\r\n"
        f"Original-Mail-From: <bounce@{domain}>\r\nOriginal-Rcpt-To: <user@{domain}>\r\n"
        f"Arrival-Date: {date}\r\nSource-IP: {ip}\r\nReported-Domain: {domain}\r\n"
        f"Delivery-Result: {rng.choice(DELIVERY)}\r\nAuth-Failure: dmarc\r\n"
        f"Authentication-Results: mx.test; dmarc=fail header.from={domain}\r\n\r\n"
        "--fb\r\nContent-Type: message/rfc822\r\n\r\n"
        f"Received: from mx.{domain} ([{ip}])\r\nFrom: <user@{domain}>\r\n"
        f"To: <someone@example.net>\r\nSubject: hello\r\n\r\nbody\r\n--fb--\r\n"
    ).encode()
    return eml, {"geo_hits": int(ip in vocab.geo)}


def _tls(rng: random.Random, rid: str, when: int) -> tuple[bytes, dict]:
    from datetime import datetime, timezone

    def iso(t: int) -> str:
        return datetime.fromtimestamp(t, timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")

    policies, failures = [], 0
    for p in range(rng.randrange(1, 4)):
        fds = [
            {
                "result-type": rng.choice(TLS_RESULTS),
                "sending-mta-ip": f"198.51.100.{rng.randrange(1, 255)}",
                "receiving-mx-hostname": f"mx{p}.brand.example.com",
                "failed-session-count": rng.randrange(1, 50),
            }
            for _ in range(rng.randrange(0, 3))
        ]
        failures += len(fds)
        policies.append(
            {
                "policy": {
                    "policy-type": "sts",
                    "policy-string": ["version: STSv1", "mode: enforce"],
                    "policy-domain": f"brand{p}.example.com",
                    "mx-host-pattern": [f"*.brand{p}.example.com"],
                },
                "summary": {
                    "total-successful-session-count": rng.randrange(0, 5000),
                    "total-failure-session-count": sum(f["failed-session-count"] for f in fds),
                },
                "failure-details": fds,
            }
        )
    doc = {
        "organization-name": rng.choice(ORGS),
        "date-range": {"start-datetime": iso(when), "end-datetime": iso(when + DAY - 1)},
        "contact-info": "tlsrpt@bench.test",
        "report-id": rid,
        "policies": policies,
    }
    return json.dumps(doc, sort_keys=True).encode(), {"policies": len(policies), "failures": failures}


def _pick_kind(rng: random.Random) -> str:
    u, acc = rng.random(), 0.0
    for kind, share in MIX:
        acc += share
        if u < acc:
            return kind
    return MIX[-1][0]


@dataclass
class CorpusFile:
    name: str
    data: bytes
    kind: str
    expect: dict  # this file's contribution to the manifest


def make_corpus(seed: int, n_files: int, vocab: Vocab) -> list[CorpusFile]:
    """``n_files`` report files, each with its expected effect on the
    five tables and the quarantine."""
    rng = random.Random(seed)
    files = []
    for i in range(n_files):
        kind = _pick_kind(rng)
        when = AS_OF_EPOCH - rng.randrange(DAY, WINDOW_S)
        rid = f"s{seed}-r{i:06d}"
        exp: dict = {}
        if kind.startswith("agg") or kind in ("bad_truncated", "bad_span"):
            span = 3 * DAY if kind == "bad_span" else DAY
            xml, info = _agg_report(rng, vocab, rid, when, span)
            if kind in ("agg_xml", "bad_span"):
                data, ext = xml, "xml"
            elif kind == "bad_truncated":
                data, ext = xml[: len(xml) * 2 // 3], "xml"
            elif kind == "agg_gz":
                data, ext = _gz(xml), "xml.gz"
            elif kind == "agg_zip":
                data, ext = _zip(f"{rid}.xml", xml), "zip"
            else:
                data, ext = _mime_aggregate(rid, "bench", _zip(f"{rid}.xml", xml), f"{rid}.zip"), "eml"
            if kind.startswith("agg"):
                exp = {"aggregate_reports": 1, "aggregate_records": info["records"],
                       "count_sum": info["count_sum"], "geo_hits": info["geo_hits"],
                       "sender_hits": info["sender_hits"], "report_id": rid}
        elif kind == "forensic":
            data, info = _forensic(rng, vocab, i, when)
            ext = "eml"
            exp = {"forensic_reports": 1, "geo_hits": info["geo_hits"]}
        elif kind == "tls":
            data, info = _tls(rng, rid, when)
            ext = "json"
            exp = {"smtp_tls_reports": info["policies"], "smtp_tls_failures": info["failures"]}
        elif kind == "bad_garbage":
            words = [f"#{rng.randrange(10**6)}" for _ in range(80)]
            data, ext = (" ".join(words) + "\n").encode(), "txt"
        else:  # bad_tls
            data, ext = b'{"organization-name": "x", "policies": [', "json"
        if kind in REJECT_REASON:
            exp = {"rejects": 1, "reason": "|".join(REJECT_REASON[kind])}
        files.append(CorpusFile(f"{i:06d}-{kind}.{ext}", data, kind, exp))
    return files


def manifest(files: list[CorpusFile]) -> dict:
    """Sum per-file expectations into the table-level manifest."""
    out = {t: 0 for t in TABLES}
    out.update(rejects=0, count_sum=0, geo_hits=0, sender_hits=0, files=len(files),
               bytes=sum(len(f.data) for f in files), rejects_by_reason={})
    for f in files:
        for k, v in f.expect.items():
            if k == "reason":
                out["rejects_by_reason"][v] = out["rejects_by_reason"].get(v, 0) + 1
            elif k != "report_id":
                out[k] += v
    return out


def write_files(files: list[CorpusFile], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for f in files:
        with open(os.path.join(out_dir, f.name), "wb") as fh:
            fh.write(f.data)


# --- warehouse rows ----------------------------------------------------------

def make_warehouse_tables(seed: int, n_records: int, vocab: Vocab) -> dict[str, pa.Table]:
    """Flat rows for the five tables, drawn from the same vocabularies
    and enrichment outcomes as the corpus."""
    rng = np.random.default_rng(seed)
    n_reports = max(1, n_records // 20)
    ts = pa.timestamp("us", tz="UTC")

    rep_begin = AS_OF_EPOCH - rng.integers(DAY, WINDOW_S, n_reports)
    rep_org = rng.integers(0, len(ORGS), n_reports)
    rep_dom = rng.integers(0, len(vocab.domains), n_reports)
    rep_id = np.array([f"w{seed}-{i:07d}" for i in range(n_reports)])
    orgs, doms = np.array(ORGS), np.array(vocab.domains)
    policy = np.array(["none", "quarantine", "reject"])[rng.integers(0, 3, n_reports)]

    def utc(epoch_s: np.ndarray) -> pa.Array:
        return pa.array(epoch_s.astype("int64") * 1_000_000, type=pa.int64()).cast(ts)

    reports = pa.table({
        "xml_schema": pa.array(np.full(n_reports, "1.0")),
        "org_name": pa.array(orgs[rep_org]),
        "org_email": pa.array(np.char.add("noreply@", np.char.lower(orgs[rep_org]))),
        "org_extra_contact_info": pa.nulls(n_reports, pa.string()),
        "report_id": pa.array(rep_id),
        "begin_date": utc(rep_begin),
        "end_date": utc(rep_begin + DAY),
        "errors": pa.array([[] for _ in range(n_reports)], pa.list_(pa.string())),
        "domain": pa.array(doms[rep_dom]),
        "adkim": pa.array(np.full(n_reports, "r")),
        "aspf": pa.array(np.full(n_reports, "r")),
        "p": pa.array(policy),
        "sp": pa.array(policy),
        "pct": pa.array(np.full(n_reports, "100")),
        "fo": pa.array(np.full(n_reports, "0")),
        "created_at": utc(np.full(n_reports, AS_OF_EPOCH)),
    })

    # records: a Pareto-tailed number per report, summing to ~n_records
    owner = np.sort(rng.integers(0, n_reports, n_records))
    ips = np.array(vocab.ips)
    ip_idx = rng.integers(0, len(ips), n_records)
    rec_ip = ips[ip_idx]

    def lookup(m: dict[str, str], default: str) -> np.ndarray:
        return np.array([m.get(ip, default) for ip in ips])[ip_idx]

    country = lookup(vocab.geo, "Unknown")
    rdns = lookup(vocab.ptr, "")
    base = np.array([".".join(h.split(".")[-2:]) if h else "" for h in rdns])
    dkim_ok = rng.random(n_records) < 0.67
    spf_ok = rng.random(n_records) < 0.5
    disp = np.array(DISPOSITIONS)[rng.integers(0, len(DISPOSITIONS), n_records)]
    hdr = doms[rep_dom][owner]
    empty = pa.array([[] for _ in range(n_records)], pa.list_(pa.string()))

    def one(values: np.ndarray) -> pa.Array:
        return pa.ListArray.from_arrays(pa.array(np.arange(n_records + 1, dtype="int32")), pa.array(values))

    pf = np.where(dkim_ok, "pass", "fail")
    sp = np.where(spf_ok, "pass", "fail")
    records = pa.table({
        "report_id": pa.array(rep_id[owner]),
        "org_name": pa.array(orgs[rep_org][owner]),
        "source_ip_address": pa.array(rec_ip),
        "source_country": pa.array(country),
        "source_reverse_dns": pa.array(rdns),
        "source_base_domain": pa.array(base),
        "source_name": pa.array(lookup(vocab.sender, "Unknown")),
        "source_type": pa.array(lookup(vocab.sender_type, "Unknown")),
        "count": pa.array(rng.integers(1, 400, n_records).astype("int32")),
        "spf_aligned": pa.array(spf_ok),
        "dkim_aligned": pa.array(dkim_ok),
        "dmarc_aligned": pa.array(spf_ok | dkim_ok),
        "disposition": pa.array(disp),
        "policy_override_reasons": empty,
        "policy_override_comments": empty,
        "envelope_from": pa.array(hdr),
        "header_from": pa.array(hdr),
        "envelope_to": pa.nulls(n_records, pa.string()),
        "dkim_domains": one(hdr),
        "dkim_selectors": one(np.char.add("s", rng.integers(0, 4, n_records).astype(str))),
        "dkim_results": one(pf),
        "spf_domains": one(hdr),
        "spf_scopes": one(np.full(n_records, "mfrom")),
        "spf_results": one(sp),
        "begin_date": utc(rep_begin[owner]),
        "created_at": utc(np.full(n_records, AS_OF_EPOCH)),
        "policy_eval_dkim": pa.array(pf),
        "policy_eval_spf": pa.array(sp),
    })

    n_fr = max(1, n_records // 200)
    fr_when = AS_OF_EPOCH - rng.integers(0, 60 * DAY, n_fr)
    fr_ip = ips[rng.integers(0, len(ips), n_fr)]
    fr_dom = doms[rng.integers(0, len(doms), n_fr)]
    forensic = pa.table({
        "feedback_type": pa.array(np.full(n_fr, "auth-failure")),
        "user_agent": pa.array(np.full(n_fr, "bench/1.0")),
        "version": pa.array(np.full(n_fr, "1")),
        "original_envelope_id": pa.nulls(n_fr, pa.string()),
        "original_mail_from": pa.array(np.char.add("bounce@", fr_dom)),
        "original_rcpt_to": pa.array(np.char.add("user@", fr_dom)),
        "arrival_date": utc(fr_when),
        "arrival_date_utc": utc(fr_when),
        "subject": pa.array(np.full(n_fr, "DMARC failure report")),
        "message_id": pa.array(np.char.add("<w", np.arange(n_fr).astype(str))),
        "authentication_results": pa.array(np.full(n_fr, "dmarc=fail")),
        "dkim_domain": pa.nulls(n_fr, pa.string()),
        "source_ip_address": pa.array(fr_ip),
        "source_country": pa.array(np.array([vocab.geo.get(ip, "Unknown") for ip in fr_ip])),
        "source_reverse_dns": pa.array(np.full(n_fr, "")),
        "source_base_domain": pa.array(np.full(n_fr, "")),
        "source_name": pa.array(np.full(n_fr, "Unknown")),
        "source_type": pa.array(np.full(n_fr, "Unknown")),
        "delivery_result": pa.array(np.array(DELIVERY)[rng.integers(0, len(DELIVERY), n_fr)]),
        "auth_failure": pa.array([["dmarc"]] * n_fr, pa.list_(pa.string())),
        "reported_domain": pa.array(fr_dom),
        "authentication_mechanisms": pa.array([[] for _ in range(n_fr)], pa.list_(pa.string())),
        "sample_headers_only": pa.array(np.zeros(n_fr, dtype=bool)),
        "sample": pa.array(np.full(n_fr, "")),
        "parsed_sample": pa.array(np.full(n_fr, "")),
        "created_at": utc(fr_when),
    })

    n_tls = max(1, n_records // 500)
    tls_when = AS_OF_EPOCH - rng.integers(0, 60 * DAY, n_tls)
    tls_id = np.char.add(f"t{seed}-", np.arange(n_tls).astype(str))
    tls_pd = np.char.add("brand", np.char.add(rng.integers(0, 3, n_tls).astype(str), ".example.com"))
    ok_s = rng.integers(0, 5000, n_tls)
    bad_s = rng.integers(0, 60, n_tls)
    tls_reports = pa.table({
        "organization_name": pa.array(orgs[rng.integers(0, len(ORGS), n_tls)]),
        "begin_date": utc(tls_when),
        "end_date": utc(tls_when + DAY - 1),
        "contact_info": pa.array(np.full(n_tls, "tlsrpt@bench.test")),
        "report_id": pa.array(tls_id),
        "policy_domain": pa.array(tls_pd),
        "policy_type": pa.array(np.full(n_tls, "sts")),
        "policy_strings": pa.array([["version: STSv1"]] * n_tls, pa.list_(pa.string())),
        "mx_host_patterns": pa.array([[] for _ in range(n_tls)], pa.list_(pa.string())),
        "successful_session_count": pa.array(ok_s, pa.int64()),
        "failed_session_count": pa.array(bad_s, pa.int64()),
        "created_at": utc(tls_when),
    })
    fsel = rng.integers(0, n_tls, 2 * n_tls)
    n_tf = len(fsel)
    tls_failures = pa.table({
        "report_id": pa.array(tls_id[fsel]),
        "policy_domain": pa.array(tls_pd[fsel]),
        "result_type": pa.array(np.array(TLS_RESULTS)[rng.integers(0, len(TLS_RESULTS), n_tf)]),
        "failed_session_count": pa.array(rng.integers(1, 50, n_tf), pa.int64()),
        "sending_mta_ip": pa.array(ips[rng.integers(0, len(ips), n_tf)]),
        "receiving_ip": pa.nulls(n_tf, pa.string()),
        "receiving_mx_hostname": pa.array(np.full(n_tf, "mx0.brand.example.com")),
        "receiving_mx_helo": pa.nulls(n_tf, pa.string()),
        "additional_info_uri": pa.nulls(n_tf, pa.string()),
        "failure_reason_code": pa.nulls(n_tf, pa.string()),
        "created_at": utc(tls_when[fsel]),
    })
    return {
        "aggregate_reports": reports,
        "aggregate_records": records,
        "forensic_reports": forensic,
        "smtp_tls_reports": tls_reports,
        "smtp_tls_failures": tls_failures,
    }


def write_months(table: pa.Table, path: str, ts_col: str, sort_cols: tuple[str, ...]) -> None:
    """The physical layout ``storage.write_partitioned`` produces: one
    ``month=yyyyMM`` directory per month holding one file, rows sorted
    by the table's clustering columns."""
    month = pc.strftime(table[ts_col], format="%Y%m")
    table = table.append_column("__month", month).sort_by([("__month", "ascending")] + [(c, "ascending") for c in sort_cols])
    for m in pc.unique(table["__month"]).to_pylist():
        part = table.filter(pc.equal(table["__month"], m)).drop_columns(["__month"])
        os.makedirs(os.path.join(path, f"month={m}"), exist_ok=True)
        pq.write_table(part, os.path.join(path, f"month={m}", "part-00000.parquet"))
