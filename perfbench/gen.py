"""Seeded input generators for the perfbench workloads.

Every generator is a pure function of its seed and size arguments: the same
seed gives byte-identical files (``test_gen.py`` pins this). Nothing here
touches the engine; the benchmark hands the written files to the JVM.

- ``write_tables``: harness-shaped TPC-H-ish tables plus ``events``,
  ``documents`` and ``embeddings`` (the schema ``graft.sources.Tables`` reads).
- ``write_corpus``: the curation / trickle corpus (``documents`` +
  ``embeddings`` with planted exact and near duplicates).
- ``ooh_compilation``: an OOH XML compilation built from the fixture
  templates in ``src/main/resources/ooh/xml-compilation.xml``, returning the
  values it planted so the extraction can be checked against them.
"""
import os
import random
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PARQUET_OPTS = dict(compression="snappy", use_dictionary=True, write_statistics=True)


def write_parquet(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    # created_by is fixed by the library version; no timestamps are written,
    # so equal tables give equal bytes
    pq.write_table(table, path, **PARQUET_OPTS)


def _ts(start, seconds):
    base = np.datetime64(start, "us")
    return (base + (np.asarray(seconds) * 1_000_000).astype("timedelta64[us]"))


# ---------------------------------------------------------------- tables

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def tables(seed, sf):
    """Harness-shaped tables at scale factor ``sf`` (lineitem = 6M x sf)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 50)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    names = np.array([f"{a} {n}" for a in ADJ for n in NOUN])
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": np.array(TYPES)[rng.integers(0, len(TYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    day0 = np.datetime64("1995-01-01", "us")
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(day0 + rng.integers(0, 2404, n_ord).astype("timedelta64[D]"),
                                pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(np.datetime64("1995-01-02", "us")
                               + rng.integers(0, 2498, n_line).astype("timedelta64[D]"),
                               pa.timestamp("us"))})
    secs = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(_ts("2024-01-01", np.round(secs, 6)), pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    return out


def write_tables(seed, sf, out_dir, corpus_docs=2000):
    """Write the harness tables plus a small corpus into ``out_dir``."""
    t = tables(seed, sf)
    docs, vecs = corpus(seed, corpus_docs)
    t["documents"], t["embeddings"] = docs, vecs
    for name, tab in t.items():
        write_parquet(tab, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tab.num_rows for name, tab in t.items()}


# ---------------------------------------------------------------- corpus

LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
EMB_DIM = 64


def _vocab(rng, n=3000):
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 10))
        words.add("".join(letters[i] for i in rng.integers(0, 26, k)))
    return sorted(words)


def corpus(seed, n_docs, id_base=0, dup_rate=0.12):
    """``n_docs`` documents and aligned embeddings (vec_id == doc_id).

    Word frequencies follow a flat power law over a 3000-word vocabulary so unrelated
    documents rarely collide under SimHash/MinHash; ``dup_rate`` of the
    documents copy an earlier one (exactly, with case/space noise, or with a
    few words edited) and carry a nearby embedding.
    """
    rng = np.random.default_rng([seed, 2, id_base])
    vocab = np.array(_vocab(np.random.default_rng([seed, 3])))
    cdf = np.cumsum(1.0 / np.arange(1, len(vocab) + 1) ** 0.3)
    cdf /= cdf[-1]
    texts, vecs = [], np.empty((n_docs, EMB_DIM), dtype=np.float32)
    for i in range(n_docs):
        if i > 10 and rng.random() < dup_rate:
            j = int(rng.integers(0, i))
            words = texts[j].lower().split()
            mode = rng.random()
            if mode < 0.3:
                text = "  ".join(words).upper() if rng.random() < 0.5 else " ".join(words) + " "
            else:
                words = list(words)
                for _ in range(int(rng.integers(1, 3))):
                    words[int(rng.integers(0, len(words)))] = str(vocab[int(rng.integers(0, 200))])
                text = " ".join(words)
            v = vecs[j] + rng.normal(0, 0.02, EMB_DIM).astype(np.float32)
        else:
            n = int(rng.integers(20, 90))
            text = " ".join(vocab[np.searchsorted(cdf, rng.random(n))])
            v = rng.normal(0, 1, EMB_DIM).astype(np.float32)
        vecs[i] = v / np.linalg.norm(v)
        texts.append(text)
    ids = np.arange(id_base, id_base + n_docs, dtype=np.int64)
    docs = pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    emb = pa.table({
        "vec_id": ids,
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_docs, dtype=np.int32)})
    return docs, emb


def write_corpus(seed, n_docs, out_dir, id_base=0):
    docs, emb = corpus(seed, n_docs, id_base)
    write_parquet(docs, os.path.join(out_dir, "documents.parquet"))
    write_parquet(emb, os.path.join(out_dir, "embeddings.parquet"))
    return docs, emb


def trickle(seed, base_docs, batches, batch_docs, deletes_every, delete_ids, out_dir):
    """Base generation + ``batches`` trickle batches + tombstone id sets.

    Batches are drawn from one corpus so they carry near-duplicates of the
    base; every ``deletes_every`` batches a seeded id set is tombstoned.
    Returns the layout the JVM and the checker read.
    """
    docs, emb = corpus(seed, base_docs + batches * batch_docs)
    write_parquet(docs.slice(0, base_docs), os.path.join(out_dir, "base", "documents.parquet"))
    write_parquet(emb.slice(0, base_docs), os.path.join(out_dir, "base", "embeddings.parquet"))
    rng = random.Random(seed * 7919 + 17)
    deletes, dead = {}, set()
    for b in range(batches):
        lo = base_docs + b * batch_docs
        bdir = os.path.join(out_dir, f"batch{b}")
        write_parquet(docs.slice(lo, batch_docs), os.path.join(bdir, "documents.parquet"))
        write_parquet(emb.slice(lo, batch_docs), os.path.join(bdir, "embeddings.parquet"))
        if (b + 1) % deletes_every == 0:
            ids = sorted(rng.sample(sorted(set(range(lo + batch_docs)) - dead), delete_ids))
            deletes[b] = ids
            dead.update(ids)
            write_parquet(pa.table({"doc_id": pa.array(ids, pa.int64())}),
                   os.path.join(out_dir, f"delete{b}", "ids.parquet"))
    keep = [i for i in range(docs.num_rows) if i not in dead]
    survivors = (docs.take(keep), emb.take(keep))
    return {"deletes": {str(k): v for k, v in deletes.items()}, "survivors": survivors,
            "text_bytes": sum(len(t.encode()) for t in docs.column("text").to_pylist())}


# ---------------------------------------------------------------- OOH XML

OCC_RE = re.compile(r"<occupation>.*?</occupation>", re.S)
ANNUAL_RE = re.compile(r"The median annual wage for (.+?) was \$(\d+,\d{3})")
HOURLY_RE = re.compile(r"The median hourly wage for (.+?) was \$(\d+\.\d{2})")
# templates whose qualities map has a key longer than 26 chars (report filter)
REPORT_TITLES = {"Data Engineers", "Boundary Testers", "Archivists"}


def ooh_templates(fixture_path):
    with open(fixture_path, encoding="utf-8") as f:
        return OCC_RE.findall(f.read())


def _section(tag, body):
    m = re.search(rf"<{tag}>.*?</{tag}>", body, re.S)
    return m.group(0) if m else None


def ooh_compilation(seed, n, templates, id_base=0):
    """An XML compilation of ``n`` occupations and the values planted in it.

    Each occupation is a fixture template picked by seed, with a unique
    title suffix (except the Military Careers guard row), new pay values,
    job counts and outlook codes, and occasionally a dropped section.
    """
    rng = random.Random(seed * 1_000_003 + id_base)
    parts, planted = ["<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<compilation>\n"], []
    for i in range(n):
        body = templates[rng.randrange(len(templates))]
        title = re.search(r"<title>(.*?)</title>", body).group(1)
        military = title == "Military Careers"
        if not military:
            title = f"{title} {id_base + i:07d}"
            body = re.sub(r"<title>.*?</title>", f"<title>{title}</title>", body, count=1)
        cents = 5 * rng.randrange(300, 2000)          # hourly wage in cents
        annual = cents * 2080 // 100                  # exact: cents is a multiple of 5
        body = re.sub(r"(<qf_median_pay_annual><value>)[^<]*", rf"\g<1>{annual}", body)
        jobs = f"{rng.randrange(1000, 900_000):,}"
        body = re.sub(r"(<qf_number_of_jobs><value>)[^<]*", rf"\g<1>{jobs}", body)
        code = str(rng.randrange(1, 8))
        body = re.sub(r"(<qf_employment_outlook>\s*<description>[^<]*</description>\s*<value>)[^<]*",
                      rf"\g<1>{code}", body)
        pay = {}

        def annual_sub(m):
            pay[m.group(1)] = cents / 100.0
            return f"The median annual wage for {m.group(1)} was ${annual:,}"

        def hourly_sub(m):
            h = f"{rng.randrange(1000, 9000) / 100:.2f}"
            pay[m.group(1)] = float(h)
            return f"The median hourly wage for {m.group(1)} was ${h}"
        sp = _section("summary_pay", body)
        sp_new = HOURLY_RE.sub(hourly_sub, ANNUAL_RE.sub(annual_sub, sp))
        body = body.replace(sp, sp_new)
        similar = [s.strip() for s in re.findall(r"<h4>(.*?)</h4>", _section("similar_occupations", body))]
        if rng.random() < 0.15:
            body = body.replace(_section("similar_occupations", body), "")
            similar = None
        has_iq = True
        if rng.random() < 0.1:
            body = body.replace(_section("how_to_become_one", body), "")
            has_iq = False
        base_title = title if military else title.rsplit(" ", 1)[0]
        parts.append("  " + body + "\n")
        planted.append({
            "title": title,
            "medianPayAnnual": None if military else float(annual),
            "numberOfJobs": None if military else jobs,
            "employmentOutlookCode": None if military else code,
            "pay": None if military else pay,
            "similarOccupations": None if military else similar,
            "in_report": has_iq and base_title in REPORT_TITLES})
    parts.append("</compilation>\n")
    return "".join(parts), planted
