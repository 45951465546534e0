"""Seeded input generators for the benchmark.

Everything a workload reads is made here from (seed, size); the program
under test only ever sees the written Parquet files. The same seed and
size give byte-identical inputs, so generated directories are cached.

* `etl`: crawler-shaped raw job postings (the 15-field raw_jobs record)
  for a day-0 full load plus a sequence of daily re-crawl batches, and
  the ground truth the warehouse built from them must reproduce.
* `curation`: TESTDATA-schema tables (documents, embeddings, events,
  orders, customer, nation) at a small scale factor, seeded.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY0 = dt.datetime(2026, 8, 12)  # as-of instant of the day-0 load
US = 1_000_000

CITIES = ["Hà Nội", "Hồ Chí Minh", "Đà Nẵng", "Hải Phòng", "Cần Thơ",
          "Bình Dương", "Đồng Nai", "Bắc Ninh", "Khánh Hòa", "Quảng Ninh"]
DISTRICTS = ["Cầu Giấy", "Đống Đa", "Ba Đình", "Quận 1", "Quận 3",
             "Hải Châu", "Thanh Khê", "Ngô Quyền", "Ninh Kiều", "Thủ Dầu Một"]
TITLES = ["Java Developer", "Kế toán tổng hợp", "Nhân viên kinh doanh",
          "Data Engineer", "Chuyên viên tuyển dụng", "Frontend Developer",
          "Kỹ sư cầu nối BrSE", "Nhân viên chăm sóc khách hàng",
          "QA/QC Engineer", "Trưởng phòng Marketing", "DevOps Engineer",
          "Giáo viên tiếng Anh", "Business Analyst", "Thiết kế đồ họa"]
LEVELS = ["", "Senior ", "Junior ", "Fresher ", "Lead ", "Middle "]
TITLE_NOISE = ["{}", "{} - Urgent", "[HOT] {}", "{} (Lương cao)",
               "Tuyển gấp {}", "{} - Hà Nội", "{} / Remote"]
SKILLS = ["Java", "Spring", "SQL", "Python", "Spark", "Excel", "React",
          "AWS", "Docker", "Tiếng Nhật", "Sales", "Photoshop", "Go", "Kafka"]
SYL = ["an", "binh", "cong", "dai", "phat", "minh", "tech", "soft", "viet",
       "sao", "long", "hung", "thinh", "nam", "phu", "gia", "hoa", "tan"]
CO_NOISE = ["{}", "CÔNG TY TNHH {}", "Tuyển dụng {}", "{} - HOT",
            "{} (gấp)", "Cần tuyển {} !!", "{} JSC", "{} ★ HR"]
UPDATE_UNITS = ["giây", "phút", "giờ", "ngày", "tuần", "tháng"]
# salary bands (millions of VND) a BI client filters on; edges sit at
# .25 so no generated salary lies on one
BANDS = [(lo, lo + w) for lo in (5.25, 10.25, 15.25, 20.25) for w in (5, 10, 20)]


def _ts(x):
    return pa.array(np.asarray(x, dtype=np.int64), pa.timestamp("us"))


def _salary(rng):
    """One salary string, covering every NormalizeSalaryExpr branch, and
    its (min, max) in millions of VND (min <= max by construction)."""
    k = rng.integers(0, 10)
    a = int(rng.integers(5, 40))
    b = a + int(rng.integers(0, 20))
    if k == 0:
        return None, (0.0, 0.0)
    if k == 1:
        return "Thoả thuận", (0.0, 0.0)
    if k == 2:
        ua, ub = a * 100, b * 100
        return f"{ua:,} - {ub:,} USD", (ua * 0.024, ub * 0.024)
    if k == 3:
        return f"{a},5 - {b},5 triệu", (a + 0.5, b + 0.5)
    if k == 4:
        return f"Tới {b * 100:,} USD", (0.0, b * 2.4)
    if k == 5:
        return f"Tới {b} triệu", (0.0, float(b))
    if k == 6:
        return f"Từ {a} triệu", (float(a), float(a))
    if k == 7:
        return f"{a * 50} USD", (a * 1.2, a * 1.2)
    if k == 8:
        return f"{a} triệu", (float(a), float(a))
    return "Cạnh tranh", (0.0, 0.0)


def _location(rng):
    """(location, location_detail): plain, '&'-joined, JSON-list and
    TP-pair forms, with HTML detail on most rows."""
    c1, c2 = rng.choice(len(CITIES), 2, replace=False)
    d1, d2 = rng.choice(len(DISTRICTS), 2, replace=False)
    k = rng.integers(0, 6)
    if k == 0:
        loc = CITIES[c1]
    elif k == 1:
        loc = f"{CITIES[c1]} & {CITIES[c2]}"
    elif k == 2:
        loc = json.dumps([f"{CITIES[c1]}: {DISTRICTS[d1]}",
                          f"{CITIES[c2]}: {DISTRICTS[d2]}"], ensure_ascii=False)
    elif k == 3:
        loc = f"{CITIES[c1]}: TP {DISTRICTS[d1]}"
    elif k == 4:
        loc = f"{CITIES[c1]}: {DISTRICTS[d1]}, {DISTRICTS[d2]}"
    else:
        loc = None
    detail = None
    if rng.random() < 0.7:
        detail = (f"<div class=\"loc\"><p>{CITIES[c1]}: {DISTRICTS[d1]}, "
                  f"{DISTRICTS[d2]}</p>")
        if k in (1, 2):
            detail += f"<p>{CITIES[c2]}: {DISTRICTS[d2]}</p>"
        detail += "<span>Xem bản đồ</span></div>"
    return loc, detail


def _last_update(rng):
    if rng.random() < 0.05:
        return ""
    return f"Cập nhật {int(rng.integers(1, 30))} {UPDATE_UNITS[rng.integers(0, 6)]} trước"


class _Jobs:
    """The crawler's view of the job market: per job its current raw
    record; companies drawn with Zipf popularity."""

    def __init__(self, rng, n_companies):
        self.rng = rng
        ranks = np.arange(1, n_companies + 1, dtype=np.float64)
        p = 1.0 / ranks ** 1.1
        self.co_p = p / p.sum()
        self.co_name, seen = [], set()
        while len(self.co_name) < n_companies:
            n = " ".join(rng.choice(SYL, int(rng.integers(2, 4))))
            if n not in seen:
                seen.add(n)
                self.co_name.append(n)
        self.co_verified = rng.random(n_companies) < 0.5
        self.co_logo = [f"https://cdn.example.vn/logo/{i}.png" if rng.random() < 0.8 else None
                        for i in range(n_companies)]
        self.rec = {}  # job_id -> raw record (dict)
        self.next_id = 0

    def new_job(self):
        rng = self.rng
        jid = f"J{self.next_id:08d}"
        self.next_id += 1
        co = int(rng.choice(len(self.co_p), p=self.co_p))
        title = TITLE_NOISE[rng.integers(0, len(TITLE_NOISE))].format(
            LEVELS[rng.integers(0, len(LEVELS))] + TITLES[rng.integers(0, len(TITLES))])
        sal, band = _salary(rng)
        loc, detail = _location(rng)
        skills = list(rng.choice(SKILLS, int(rng.integers(1, 5)), replace=False))
        self.rec[jid] = dict(
            job_id=jid, title=title, job_url=f"https://jobs.example.vn/viec-lam/{jid}",
            company_name=CO_NOISE[rng.integers(0, len(CO_NOISE))].format(self.co_name[co]),
            company_url=f"https://jobs.example.vn/cong-ty/{co}",
            salary=sal, skills=json.dumps(skills, ensure_ascii=False),
            location=loc, location_detail=detail,
            deadline=str(int(rng.integers(1, 61))),
            verified_employer=bool(self.co_verified[co]),
            last_update=_last_update(rng), logo_url=self.co_logo[co],
            _band=band)
        return jid


FIELDS = ["job_id", "title", "job_url", "company_name", "company_url", "salary",
          "skills", "location", "location_detail", "deadline", "verified_employer",
          "last_update", "logo_url"]


def _table(rows):
    cols = {f: [r[f] for r in rows] for f in FIELDS}
    t = {f: pa.array(cols[f], pa.bool_() if f == "verified_employer" else pa.string())
         for f in FIELDS}
    t["posted_time"] = pa.nulls(len(rows), pa.timestamp("us"))
    t["crawled_at"] = _ts([r["crawled_at"] for r in rows])
    return pa.table(t)


def _month(us):
    return dt.datetime.fromtimestamp(us / US, dt.timezone.utc).strftime("%Y-%m")


def gen_etl(out, seed, n_jobs, days, batch_frac):
    """Day-0 raw postings plus `days` daily re-crawl batches.

    Day 0: `n_jobs` distinct jobs crawled over the 75 days before DAY0,
    3% of them crawled twice (the later crawl wins). Day d (as-of
    DAY0 + d): re-crawls of `batch_frac` of the known jobs, preferring
    those crawled in the last 7 days; 5% of re-crawls change a tracked
    column (skills), 30% carry a new salary (a fact measure); plus new
    jobs worth 30% of the re-crawls.
    """
    rng = np.random.default_rng(seed)
    jobs = _Jobs(rng, max(50, n_jobs // 15))
    day0_us = int(DAY0.timestamp()) * US
    rows0, last_crawl = [], {}
    for _ in range(n_jobs):
        jid = jobs.new_job()
        t = day0_us - int(rng.integers(3600, 75 * 86400)) * US
        if rng.random() < 0.03:
            early = dict(jobs.rec[jid], crawled_at=t - int(rng.integers(1, 10)) * 86400 * US)
            early["salary"], _ = _salary(rng)
            rows0.append(early)
        rows0.append(dict(jobs.rec[jid], crawled_at=t))
        last_crawl[jid] = t
    order = rng.permutation(len(rows0))
    rows0 = [rows0[i] for i in order]
    os.makedirs(out, exist_ok=True)
    pq.write_table(_table(rows0), f"{out}/day0.parquet")

    # fact keys: (job, version) -> {day offset: [load_month at insert,
    # salary band of the latest crawl touching it]}
    version = {j: 0 for j in jobs.rec}
    facts = {(j, 0): {o: [_month(last_crawl[j]), jobs.rec[j]["_band"]] for o in range(5)}
             for j in jobs.rec}
    dim_rows = len(jobs.rec)
    truth = {"day0": {
        "raw_rows": len(rows0), "jobs": len(jobs.rec), "facts": 5 * len(jobs.rec),
        "facts_by_month": _by_month(facts)}, "days": []}
    for d in range(1, days + 1):
        asof_us = day0_us + d * 86400 * US
        ids = sorted(jobs.rec)
        recent = [j for j in ids if last_crawl[j] >= asof_us - 8 * 86400 * US]
        n_re = int(round(batch_frac * len(ids)))
        pool = recent if len(recent) >= n_re else ids
        picked = [pool[i] for i in rng.choice(len(pool), n_re, replace=False)]
        rows, n_changed = [], 0
        for j in picked:
            r = jobs.rec[j]
            if rng.random() < 0.05:
                sk = json.loads(r["skills"])
                r["skills"] = json.dumps(sk + [f"Skill{d}"], ensure_ascii=False)
                version[j] += 1
                n_changed += 1
            if rng.random() < 0.3:
                r["salary"], r["_band"] = _salary(rng)
            rows.append(r)
        n_new = int(round(0.3 * n_re))
        for _ in range(n_new):
            j = jobs.new_job()
            version[j] = 0
            rows.append(jobs.rec[j])
        batch = []
        for r in rows:
            t = asof_us - int(rng.integers(60, 20 * 3600)) * US
            last_crawl[r["job_id"]] = t
            batch.append(dict(r, crawled_at=t))
            key = (r["job_id"], version[r["job_id"]])
            slot = facts.setdefault(key, {})
            for o in range(d, d + 5):
                # a matched fact keeps its load_month and takes the new measures
                slot.setdefault(o, [_month(t), None])[1] = r["_band"]
        dim_rows += n_changed + n_new
        pq.write_table(_table(batch), f"{out}/day{d}.parquet")
        truth["days"].append({
            "day": d, "asof": (DAY0 + dt.timedelta(days=d)).strftime("%Y-%m-%d"),
            "batch_rows": len(batch), "changed": n_changed, "new": n_new,
            "unchanged": n_re - n_changed, "jobs": len(jobs.rec),
            "dim_job_rows": dim_rows, "facts": sum(len(v) for v in facts.values()),
            "facts_by_month": _by_month(facts),
            "jobs_by_month": _keys_by_month(facts),
            "bands": _band_counts(facts, version)})
    with open(f"{out}/truth.json", "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)


def _by_month(facts):
    out = {}
    for slot in facts.values():
        for m, _ in slot.values():
            out[m] = out.get(m, 0) + 1
    return dict(sorted(out.items()))


def _keys_by_month(facts):
    """Distinct job versions (job surrogate keys) with a fact in each load_month."""
    out = {}
    for slot in facts.values():
        for m in {m for m, _ in slot.values()}:
            out[m] = out.get(m, 0) + 1
    return dict(sorted(out.items()))


def _band_counts(facts, version):
    """Per BANDS entry: facts of current job versions whose salary lies in
    the band, and the distinct jobs among them."""
    out = []
    for lo, hi in BANDS:
        n = jobs = 0
        for (j, v), slot in facts.items():
            if v != version[j]:
                continue
            k = sum(1 for _, (a, b) in slot.values() if a >= lo and b <= hi)
            n += k
            jobs += k > 0
        out.append([n, jobs])
    return out


# ---------------------------------------------------------------- curation
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
ETYPES = ["click", "error", "purchase", "signup", "view"]
MKT = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def gen_curation(out, seed, sf):
    """TESTDATA-schema tables at scale factor `sf` (the shapes of the
    shared test data: documents 50k*sf with 1.6 exact-duplicate pairs
    per 1000, embeddings 20k*sf unit-norm 64-d, events 1M*sf over
    January 2024 with 15k*sf users), plus the small orders/customer/
    nation tables the point-in-time queries join."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_doc, n_emb, n_ev = int(50_000 * sf), int(20_000 * sf), int(1_000_000 * sf)
    n_cust, n_ord = int(150_000 * sf), int(1_500_000 * sf)

    n_words = rng.integers(10, 101, n_doc)
    flat = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(n_words.sum()))]
    texts, pos = [], 0
    for w in n_words:
        texts.append(" ".join(flat[pos:pos + w]))
        pos += w
    for _ in range(round(n_doc * 0.0016)):
        a, b = rng.integers(0, n_doc, 2)
        if a != b:
            texts[int(b)] = texts[int(a)]
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "de", "zh", "fr", "es"], n_doc,
                                    p=[0.4, 0.15, 0.15, 0.15, 0.15])),
        "source": pa.array(rng.choice([f"src{i}" for i in range(20)], n_doc)),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), f"{out}/documents.parquet")

    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32)),
    }), f"{out}/embeddings.parquet")

    day = 86_400 * US
    ts0 = int(dt.datetime(2024, 1, 1).timestamp()) * US
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(np.sort(rng.integers(ts0, ts0 + 30 * day, n_ev))),
        "user_id": pa.array(rng.integers(0, int(15_000 * sf), n_ev).astype(np.int64)),
        "event_type": pa.array(np.array(ETYPES)[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    }), f"{out}/events.parquet")

    pq.write_table(pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    }), f"{out}/nation.parquet")
    pq.write_table(pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-1000, 10000, n_cust), 2)),
        "c_mktsegment": pa.array(np.array(MKT)[rng.integers(0, 5, n_cust)]),
    }), f"{out}/customer.parquet")
    od0 = int(dt.datetime(1995, 1, 1).timestamp()) * US
    pq.write_table(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
        "o_orderdate": _ts(od0 + rng.integers(0, 2400, n_ord) * day),
        "o_orderpriority": pa.array(np.array(PRIO)[rng.integers(0, 5, n_ord)]),
    }), f"{out}/orders.parquet")
