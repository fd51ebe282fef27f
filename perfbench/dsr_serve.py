"""dsr_ingest_serve: decode seeded Power BI DSR pages, land them, serve lookups.

Inputs are built here from typed rows: each page carries the precatórios
columns in the DSR wire form (dictionary-encoded strings, epoch-ms
dates, pt-BR money strings) encoded with ``dsr.encode_dm0``, so the typed
rows are an oracle independent of the decoder. As in the reference
crawl, every page belongs to one entity. The engine only sees the pages
parquet, the page → entity table and the entity-name parquet.

Shapes follow FIXTURES.md and SURVEY.md: 500-row pages, an entity
dimension of 200 names plus the ``--- Selecione`` placeholder, 100
``COMARCA DE <CITY>`` values, natureza {Alimentar, Comum}, tipo
{Preferencial, Orçamentário}. How the rows spread over the entities and
the lookup parameter mix are assumptions (the repo records no traffic):
see ``perfbench/README.md``.

Measured window, after an untimed warm-up decode of a few pages: ``DECODES``
decode-and-land actions (``work_per_s`` is their median; each lands the
rows as parquet tagged with their entity, and as the pt-BR CSV of
``dsr.write_csv_ptbr``), then a closed loop with one client that sends
its next lookup when the previous one has returned:
``api.resolve_entity`` → ``api.apply_filters`` → ``api.sort_rows`` →
collect, until the deadline and for at least ``MIN_LOOKUPS`` lookups.
Every landing is compared with the generated rows and every lookup with
DuckDB over the same landed parquet, after the window.
"""

from __future__ import annotations

import collections
import csv
import datetime as dt
import glob
import json
import os
import time
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import median

ROWS = 30_000
ROWS_PER_PAGE = 500  # the dashboard's page size (SURVEY.md, config.py:20)
DECODES = 3
WARMUP_PAGES = 16  # the untimed first decode, which starts the Python workers
MIN_LOOKUPS = 20
SETUP_REPS = 3

# Ceará municipalities: the comarcas and the local entities are named after them
_CITIES = [
    "Fortaleza", "Caucaia", "Juazeiro do Norte", "Maracanaú", "Sobral", "Crato",
    "Itapipoca", "Maranguape", "Iguatu", "Quixadá", "Pacatuba", "Quixeramobim",
    "Aquiraz", "Canindé", "Russas", "Crateús", "Tianguá", "Aracati", "Cascavel",
    "Pacajus", "Icó", "Horizonte", "Camocim", "Morada Nova", "Acaraú",
    "Viçosa do Ceará", "Barbalha", "Limoeiro do Norte", "Tauá", "Trairi", "Granja",
    "Boa Viagem", "Acopiara", "Eusébio", "Itapajé", "Beberibe", "Brejo Santo",
    "São Gonçalo do Amarante", "Mauriti", "Amontada", "Pentecoste", "Itarema",
    "Lavras da Mangabeira", "Missão Velha", "Mombaça", "Baturité",
    "Guaraciaba do Norte", "Ipu", "Santa Quitéria", "Senador Pompeu",
    "São Benedito", "Jaguaribe", "Várzea Alegre", "Paraipaba", "Independência",
    "Nova Russas", "Marco", "Ubajara", "Ipueiras", "Jaguaruana", "Bela Cruz",
    "Milagres", "Caririaçu", "Aurora", "Jardim", "Cedro", "Orós", "Solonópole",
    "Jucás", "Cariús", "Assaré", "Campos Sales", "Araripe", "Potengi",
    "Nova Olinda", "Santana do Cariri", "Farias Brito", "Altaneira", "Tamboril",
    "Monsenhor Tabosa", "Hidrolândia", "Pires Ferreira", "Reriutaba", "Varjota",
    "Cariré", "Groaíras", "Forquilha", "Massapê", "Santana do Acaraú", "Morrinhos",
    "Meruoca", "Alcântaras", "Coreaú", "Frecheirinha", "Mucambo", "Pacujá",
    "Graça", "Carnaubal", "Croatá", "Ibiapina",
]
# FIXTURES.md §1: comarca `COMARCA DE <CITY>`, cardinality ~100
COMARCAS = [f"COMARCA DE {c.upper()}" for c in _CITIES]
# FIXTURES.md §1 ValueDicts D1, D2, D3; situacao lists only `Cadastrado`, the
# other two are the status values FIXTURES.md §3 gives for editais
NATUREZAS = ["Alimentar", "Comum"]
TIPOS = ["Preferencial", "Orçamentário"]
SITUACOES = ["Cadastrado", "Pago", "Indeferido"]
PLACEHOLDER = "--- Selecione a Entidade"
SORT_KEYS = ["ordem", "valor_atual", "ano_orcamento", "data_cadastro"]

# wire column order = PRECATORIO_FIELDS order; D-columns are dictionary-encoded
_API = [
    ("ordem", "dfslcp_num_ordem", None),
    ("processo", "dfslcp_dsc_proc_precatorio", "D0"),
    ("comarca", "dfslcp_dsc_comarca", "D4"),
    ("ano_orcamento", "dfslcp_num_ano_orcamento", None),
    ("natureza", "dfslcp_dsc_natureza", "D1"),
    ("data_cadastro", "dfslcp_dat_cadastro", None),
    ("tipo_classificacao", "dfslcp_dsc_tipo_classificao", "D2"),
    ("valor_original", "dfslcp_vlr_original", None),
    ("valor_atual", "ValorAtualFormatado", "D5"),
    ("situacao", "dfslcp_dsc_sit_precatorio", "D3"),
]
COLUMNS = [c for c, _a, _d in _API]
KEY = ["page_id", "row_idx", "entidade"] + COLUMNS


def entity_names() -> list[str]:
    """The entity dimension: 200 names (FIXTURES.md §2, the size of the
    reference's ENTITY_MAPPING), uppercase and accented."""
    up = [c.upper() for c in _CITIES]
    return (["ESTADO DO CEARÁ"]
            + [f"MUNICÍPIO DE {c}" for c in up]
            + [f"CÂMARA MUNICIPAL DE {c}" for c in up[:50]]
            + [f"INSTITUTO DE PREVIDÊNCIA DE {c}" for c in up[50:99]])


def entity_rows(rng, names: list[str]) -> dict[str, int]:
    """Rows per entity: 1/rank of a seeded ranking (assumed, see README)."""
    order = rng.permutation(len(names))
    h = sum(1.0 / r for r in range(1, len(names) + 1))
    return {names[i]: max(1, round(ROWS / (h * (rank + 1))))
            for rank, i in enumerate(order)}


def _brl(v: Decimal) -> str:
    """Decimal → 'R$ 1.234,56' (the dashboard's display form)."""
    whole, cents = f"{v:.2f}".split(".")
    groups = []
    while len(whole) > 3:
        groups.insert(0, whole[-3:])
        whole = whole[:-3]
    groups.insert(0, whole)
    return f"R$ {'.'.join(groups)},{cents}"


def _page(typed: list[dict]) -> str:
    """Typed rows → one DSR response page."""
    from crawler_tjce_spark.sources import dsr

    dicts: dict[str, list[str]] = {}
    index: dict[str, dict[str, int]] = {}
    wire_rows = []
    for row in typed:
        wire = []
        for col, _api, dn in _API:
            v = row[col]
            if col == "data_cadastro":
                v = int((v - dt.datetime(1970, 1, 1)).total_seconds() * 1000)
            elif col == "valor_atual":
                v = _brl(v)
            if dn is not None:
                idx = index.setdefault(dn, {})
                if v not in idx:
                    idx[v] = len(idx)
                    dicts.setdefault(dn, []).append(v)
                v = idx[v]
            wire.append(v)
        wire_rows.append(wire)
    schema = [{"N": f"G{i}", "T": 1, **({"DN": dn} if dn else {})}
              for i, (_c, _a, dn) in enumerate(_API)]
    return json.dumps({"results": [{"result": {"data": {
        "descriptor": {"Select": [
            {"Value": f"G{i}", "Name": f"dfslcp_SAPRE_LISTA_CRONO_PRECATORIO.{api}"}
            for i, (_c, api, _d) in enumerate(_API)]},
        "dsr": {"DS": [{"ValueDicts": dicts,
                        "PH": [{"DM0": dsr.encode_dm0(wire_rows, schema)}]}]},
    }}}]})


def generate(run_dir: str, seed: int) -> dict[str, str]:
    """Write the pages, page → entity and entity tables and the expected rows."""
    rng = np.random.default_rng(seed)
    names = entity_names()
    epoch = dt.datetime(2010, 1, 1)
    ordem = 0
    pages, owners = [], []
    expected = {c: [] for c in KEY}
    for name, n_rows in entity_rows(rng, names).items():
        for first in range(0, n_rows, ROWS_PER_PAGE):
            n = min(ROWS_PER_PAGE, n_rows - first)
            anos = np.sort(rng.integers(2012, 2027, size=n))
            r = {k: rng.integers(0, hi, size=n).tolist() for k, hi in (
                ("proc", 10**7), ("dv", 100), ("lag", 5), ("orig", 10000),
                ("day", 5000), ("comarca", len(COMARCAS)), ("nat", len(NATUREZAS)),
                ("tipo", len(TIPOS)), ("sit", len(SITUACOES)))}
            cents = rng.integers(10_000, 500_000_000, size=n).tolist()
            typed = []
            for i in range(n):
                ordem += 1
                ano = int(anos[i])
                typed.append({
                    "ordem": ordem,
                    "processo": f"{r['proc'][i]:07d}-{r['dv'][i]:02d}.{ano - r['lag'][i]}"
                                f".8.06.{r['orig'][i]:04d}",
                    "comarca": COMARCAS[r["comarca"][i]],
                    "ano_orcamento": ano,
                    "natureza": NATUREZAS[r["nat"][i]],
                    "data_cadastro": epoch + dt.timedelta(days=r["day"][i]),
                    "tipo_classificacao": TIPOS[r["tipo"][i]],
                    "valor_original": round(cents[i] / 100.0 * 0.9, 2),
                    "valor_atual": Decimal(cents[i]) / 100,
                    "situacao": SITUACOES[r["sit"][i]],
                })
            page_id = len(pages)
            pages.append(_page(typed))
            owners.append(name)
            for i, row in enumerate(typed):
                expected["page_id"].append(page_id)
                expected["row_idx"].append(i)
                expected["entidade"].append(name)
                for c in COLUMNS:
                    expected[c].append(row[c])

    paths = {k: os.path.join(run_dir, f"{k}.parquet")
             for k in ("pages", "page_entities", "entities", "expected")}
    ids = pa.array(range(len(pages)), pa.int64())
    pq.write_table(pa.table({"page_id": ids, "payload": pages}), paths["pages"])
    pq.write_table(pa.table({"page_id": ids, "entidade": owners}), paths["page_entities"])
    pq.write_table(pa.table({"official_name": [PLACEHOLDER] + names}), paths["entities"])
    exp = pa.table(expected)
    exp = exp.set_column(exp.schema.get_field_index("valor_atual"), "valor_atual",
                         pa.array(expected["valor_atual"], pa.decimal128(18, 2)))
    pq.write_table(exp, paths["expected"])
    return paths


def _lookups(rng, names: list[str], slugs: dict[str, str]):
    """Endless seeded stream of lookup parameters (assumed mix, see README).

    Each block of ten gives the entity by name three times and by slug
    seven times: a name costs resolve_entity a second query, so a free
    draw would move the median latency from seed to seed."""
    while True:
        for by_name in rng.permutation([True] * 3 + [False] * 7):
            name = names[int(rng.integers(0, len(names)))]
            lo = int(rng.integers(2012, 2026))
            q = {"entity": name if by_name else slugs[name], "name": name,
                 "ano_min": lo, "ano_max": lo + int(rng.integers(0, 3)),
                 "sort_by": SORT_KEYS[int(rng.integers(0, len(SORT_KEYS)))],
                 "order": "desc" if rng.random() < 0.5 else "asc",
                 "valor_min": None, "valor_max": None, "natureza": None}
            if rng.random() < 0.5:
                q["valor_min"] = float(rng.integers(0, 2_000_000))
            if rng.random() < 0.3:
                q["valor_max"] = float(rng.integers(2_000_000, 5_000_000))
            if rng.random() < 0.5:
                q["natureza"] = NATUREZAS[int(rng.integers(0, len(NATUREZAS)))].lower()
            yield q


_SELECT = ", ".join("epoch_ms(data_cadastro)" if c == "data_cadastro" else c for c in KEY)


def _duck_rows(con, landing: str, q: dict) -> list[tuple]:
    where = ["entidade = ?", "ano_orcamento >= ?", "ano_orcamento <= ?"]
    args = [q["name"], q["ano_min"], q["ano_max"]]
    if q["valor_min"] is not None:
        where.append("valor_atual >= ?")
        args.append(q["valor_min"])
    if q["valor_max"] is not None:
        where.append("valor_atual <= ?")
        args.append(q["valor_max"])
    if q["natureza"] is not None:
        where.append("lower(natureza) = ?")
        args.append(q["natureza"])
    sql = (f"SELECT {_SELECT} FROM read_parquet('{landing}/*.parquet') "
           f"WHERE {' AND '.join(where)}")
    return con.execute(sql, args).fetchall()


def _spark_row(r) -> tuple:
    out = []
    for c in KEY:
        v = r[c]
        if c == "data_cadastro":
            v = int(v.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
        out.append(v)
    return tuple(out)


def _csv_key(row: list[str]) -> tuple:
    # valor_original is a double rendered by Spark; compare it as a number
    return (*row[:7], float(row[7]), *row[8:])


def _expected_csv(path: str, pages: int) -> collections.Counter:
    """The rows write_csv_ptbr must produce for the first ``pages`` pages:
    dd/MM/yyyy dates, R$ money."""
    t = pq.read_table(path, columns=COLUMNS, filters=[("page_id", "<", pages)]).to_pylist()
    return collections.Counter(_csv_key([
        str(r["ordem"]), r["processo"], r["comarca"], str(r["ano_orcamento"]),
        r["natureza"], r["data_cadastro"].strftime("%d/%m/%Y"),
        r["tipo_classificacao"], str(r["valor_original"]), _brl(r["valor_atual"]),
        r["situacao"]]) for r in t)


def _landed_csv(out_dir: str) -> tuple[list[str], collections.Counter]:
    """Header and rows of the single CSV file write_csv_ptbr wrote."""
    files = glob.glob(os.path.join(out_dir, "*.csv"))
    if len(files) != 1:
        return [], collections.Counter()
    with open(files[0], newline="", encoding="utf-8") as f:
        rows = list(csv.reader(f))
    return rows[0], collections.Counter(_csv_key(r) for r in rows[1:])


def run(ctx) -> dict:
    import duckdb
    from pyspark.sql import functions as F

    from crawler_tjce_spark import api
    from crawler_tjce_spark.perf import job_group
    from crawler_tjce_spark.sources import dsr
    from crawler_tjce_spark.sources.entities import build_entity_mapping

    spark, sc, tr = ctx.spark, ctx.spark.sparkContext, ctx.tracer
    paths = generate(ctx.run_dir, ctx.seed)
    names = entity_names()

    # set-up: load the inputs (pages, page owners, entity dimension) into memory
    setup_s = []
    cached: list = []
    for _ in range(SETUP_REPS):
        for df in cached:
            df.unpersist(blocking=True)
        t0 = time.perf_counter()
        pages = spark.read.parquet(paths["pages"]).cache()
        n_pages = pages.count()
        owners = spark.read.parquet(paths["page_entities"]).cache()
        owners.count()
        mapping = build_entity_mapping(spark.read.parquet(paths["entities"])).cache()
        slugs = {r["official_name"]: r["slug"] for r in mapping.collect()}
        setup_s.append(time.perf_counter() - t0)
        cached = [pages, owners, mapping]

    notes = []
    checks = failed = 0
    con = duckdb.connect()

    def check(ok: bool, what: str) -> None:
        nonlocal checks, failed
        checks += 1
        if not ok:
            failed += 1
            notes.append(f"CHECK FAILED: {what}")

    check(sorted(slugs) == sorted(names), f"entity mapping has {len(slugs)} names")

    def decode(landing: str, src) -> None:
        with tr.span("dsr.decode"), job_group(sc, "dsr_decode"):
            (dsr.decode_pages_df(spark, src).join(F.broadcast(owners), "page_id")
             .write.mode("overwrite").parquet(landing))
            dsr.write_csv_ptbr(spark.read.parquet(landing), landing + "_csv")

    # the first decode, of a few pages, starts the Python workers; it is
    # checked, not timed
    landings = [(os.path.join(ctx.run_dir, "landed_warmup"), WARMUP_PAGES)]
    decode(landings[0][0], pages.filter(F.col("page_id") < WARMUP_PAGES))
    g0 = ctx.groups()
    t_start = time.perf_counter()
    deadline = t_start + ctx.seconds
    rates = []
    for i in range(DECODES):
        landings.append((os.path.join(ctx.run_dir, f"landed{i}"), n_pages))
        t0 = time.perf_counter()
        decode(landings[-1][0], pages)
        rates.append(ROWS / (time.perf_counter() - t0))
    last = landings[-1][0]
    landed = spark.read.parquet(last)
    rng = np.random.default_rng(ctx.seed + 101)
    lat, served = [], []
    for q in _lookups(rng, names, slugs):
        if len(lat) >= MIN_LOOKUPS and time.perf_counter() >= deadline:
            break
        t0 = time.perf_counter()
        with tr.span("api.resolve_entity"):
            _slug, name = api.resolve_entity(mapping, q["entity"])
        with tr.span("api.query"):
            df = api.apply_filters(
                landed.filter(F.col("entidade") == name),
                ano_min=q["ano_min"], ano_max=q["ano_max"],
                valor_min=q["valor_min"], valor_max=q["valor_max"],
                natureza=q["natureza"])
            rows = api.sort_rows(df, q["sort_by"], q["order"]).collect()
        lat.append(time.perf_counter() - t0)
        served.append((q, name, rows))
    t_end = time.perf_counter()
    groups = ctx.group_delta(g0)

    # checks, outside the window
    n_rows = con.execute(f"SELECT count(*) FROM read_parquet('{paths['expected']}')"
                         ).fetchone()[0]
    for landing, upto in landings:
        exp = (f"SELECT {_SELECT} FROM read_parquet('{paths['expected']}') "
               f"WHERE page_id < {upto}")
        got = f"SELECT {_SELECT} FROM read_parquet('{landing}/*.parquet')"
        diff = con.execute(f"SELECT (SELECT count(*) FROM ({got} EXCEPT ALL {exp})), "
                           f"(SELECT count(*) FROM ({exp} EXCEPT ALL {got}))").fetchone()
        check(diff == (0, 0), f"decoded rows differ from the generated rows {diff}")
        want_csv = _expected_csv(paths["expected"], upto)
        header, got_csv = _landed_csv(landing + "_csv")
        check(header == COLUMNS and got_csv == want_csv,
              f"pt-BR CSV of {landing} ({sum(got_csv.values())} rows, "
              f"{sum((got_csv - want_csv).values())} unexpected)")
    for q, name, rows in served:
        got = [_spark_row(r) for r in rows]
        want = _duck_rows(con, last, q)
        keys = [g[KEY.index(q["sort_by"])] for g in got]
        in_order = keys == sorted(keys, reverse=q["order"] == "desc")
        check(name == q["name"] and sorted(got) == sorted(want) and in_order,
              f"lookup {q} ({len(got)} vs {len(want)} rows)")
    con.close()

    returned = float(np.mean([len(r) for _q, _n, r in served]))
    result = {
        "work_per_s": median(rates),
        "step_samples_ms": [x * 1000.0 for x in lat],
        "setup_samples_s": setup_s,
        "attempted": checks,
        "failed": failed,
        "notes": notes + [
            f"dsr_ingest_serve: {n_pages} pages, {n_rows} rows, {len(names)} entities, "
            f"decoded and landed {DECODES}x, rows/s " + ", ".join(f"{r:.0f}" for r in rates),
            f"{len(lat)} lookups, {returned:.1f} rows each",
        ],
    }
    if tr.enabled:
        spans = tr.between(t_start, t_end)
        run_s = groups.get("dsr_decode", {}).get("run_s", 0.0)
        out = {
            "dsr.pages": float(n_pages),
            "dsr.rows": float(n_rows),
            "dsr.decode_run_s": run_s / DECODES,
            "dsr.rows_per_core_s": n_rows * DECODES / run_s,
            "api.resolve_s": median([s.dur for s in spans if s.name == "api.resolve_entity"]),
            "api.query_s": median([s.dur for s in spans if s.name == "api.query"]),
            "api.rows_returned": returned,
            "trace.work_per_s": result["work_per_s"],
            "trace.wrapper_share": tr.wrapper_s(t_start, t_end) / (t_end - t_start),
        }
        for name, v in tr.self_times(spans).items():
            out[f"self_s.{name}"] = v
        result["per_layer"] = out
    return result
