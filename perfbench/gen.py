"""Seeded inputs of the `medallion` workload.

One seed gives the same bytes every time: the generator draws only from
its own SplitMix64 stream and serialises with a fixed key order. Besides
the raw pages it returns the expected outputs, computed here in exact
integer cents and independently of Spark:

  - gold: total cents per (ano, mes, normalised nome_orgao);
  - the fetch report (pages, records) and the bronze row count;
  - row counts of the stats-pruned manifest reads.

The pages carry the reference's dirty cases: null and non-numeric
`valor`, padded mixed-case `nome_*` names, null dates, legacy bare-array
pages in the reference's share (at least one) and one corrupt
(truncated) page. Those sit in the raw directory before the fetch, as
pages of an earlier run do: the fetcher's resume ledger skips them, and
`Sources.readRawPages` reads the bare arrays and drops the corrupt one.
"""
import json

MASK = (1 << 64) - 1

SLUG, TABLE = "gastos-diretos", "gastos"
BASE_URL = "https://api.brasil.io/v1/dataset/gastos-diretos/gastos/data/"
# The reference's committed run (BASELINE.md, "Reference scale facts";
# FIXTURES.md A.1): hive partitions ano=2011..2017 x mes=1..12, 1,000
# records per page, 55 legacy bare-array pages in 1,021, 7 distinct
# nome_orgao in silver.
YEARS = tuple(range(2011, 2018))
PER_PAGE = 1000
BARE_SHARE = 55 / 1021
ORGAOS = (
    "Ministério da Educação", "Ministério da Saúde", "Ministério da Defesa",
    "Ministério da Fazenda", "Ministério da Justiça e Segurança Pública",
    "Ministério das Relações Exteriores", "Ministério da Ciência, Tecnologia e Inovações",
)
FAVORECIDOS = ("Universidade Federal de São Paulo", "Companhia de Água e Esgoto",
               "Instituto Nacional de Câncer", "João da Silva ME", "Hospital São Luís")
ACOES = ("Manutenção de Unidades", "Apoio à Educação Básica", "Ações de Saúde")
PROGRAMAS = ("Gestão e Manutenção", "Educação de Qualidade", "Saúde Pública")
FUNCOES = ("Educação", "Saúde", "Defesa Nacional", "Administração")
GRUPOS = ("Outras Despesas Correntes", "Investimentos", "Pessoal e Encargos Sociais")
BAD_VALOR = ("N/D", "", "sem valor", "12,50", "R$ 10")
# One pass. The number of pages is the only size knob, fitted to the run
# length: PAGES pages hold the data, BARE of them legacy bare arrays; one
# torn page more. Then 2 incremental recomputes, 10 manifest commits
# (months 1..10 of the first year) and 5 pruned reads.
PAGES = 19
BARE = max(1, round(PAGES * BARE_SHARE))
N_INCREMENTAL, N_COMMITS, N_READS = 2, 10, 5


class SplitMix64:
    """Steele et al.'s SplitMix64: a fixed, platform-independent stream."""

    def __init__(self, seed):
        self.state = seed & MASK

    def next(self):
        self.state = (self.state + 0x9E3779B97F4A7C15) & MASK
        z = self.state
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & MASK
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & MASK
        return z ^ (z >> 31)

    def below(self, n):
        return self.next() % n

    def pick(self, seq):
        return seq[self.below(len(seq))]


def dirty_name(rng, name):
    """The reference's raw text: random case and space padding."""
    style = rng.below(4)
    if style == 1:
        name = name.lower()
    elif style == 2:
        name = name.upper()
    if rng.below(3) == 0:
        name = " " * (1 + rng.below(2)) + name + " " * rng.below(3)
    return name


def normalise(name):
    """Silver's nome_* rule: upper(trim(x)); Spark's trim strips spaces only."""
    return name.strip(" ").upper()


def record(rng, seq):
    ano, mes = rng.pick(YEARS), 1 + rng.below(12)
    cents = 1 + rng.below(5_000_000)
    roll = rng.below(20)
    if roll == 0:
        valor, cents = None, 0
    elif roll == 1:
        valor, cents = rng.pick(BAD_VALOR), 0
    else:
        valor = f"{cents // 100}.{cents % 100:02d}"
    day = 1 + rng.below(28)
    paid = None if rng.below(10) == 0 else f"{ano}-{mes:02d}-{day:02d}"
    orgao = rng.pick(ORGAOS)
    rec = {
        "ano": ano, "mes": mes,
        "codigo_acao": f"{2000 + rng.below(8000)}",
        "codigo_elemento_despesa": 30 + rng.below(20),
        "codigo_favorecido": f"***{rng.below(1_000_000):06d}**",
        "codigo_funcao": 1 + rng.below(28),
        "codigo_grupo_despesa": 1 + rng.below(6),
        "codigo_orgao": 20000 + ORGAOS.index(orgao),
        "codigo_orgao_superior": 20000 + ORGAOS.index(orgao) // 3,
        "codigo_programa": 2000 + rng.below(100),
        "codigo_subfuncao": 100 + rng.below(800),
        "codigo_unidade_gestora": 100000 + rng.below(90000),
        "data_pagamento": paid,
        "data_pagamento_original": None if rng.below(8) else paid,
        "gestao_pagamento": f"{rng.below(100000):05d}",
        "linguagem_cidada": None if rng.below(2) else dirty_name(rng, "ensino superior"),
        "nome_acao": dirty_name(rng, rng.pick(ACOES)),
        "nome_elemento_despesa": "Outros Serviços de Terceiros",
        "nome_favorecido": dirty_name(rng, rng.pick(FAVORECIDOS)),
        "nome_funcao": dirty_name(rng, rng.pick(FUNCOES)),
        "nome_grupo_despesa": dirty_name(rng, rng.pick(GRUPOS)),
        "nome_orgao": dirty_name(rng, orgao),
        "nome_orgao_superior": orgao,
        "nome_programa": dirty_name(rng, rng.pick(PROGRAMAS)),
        "nome_subfuncao": "Administração Geral",
        "nome_unidade_gestora": "Coordenação Geral",
        "numero_documento": f"{ano}OB{seq:06d}",
        "valor": valor,
    }
    return rec, (ano, mes, normalise(orgao)), cents


def page_url(n):
    return f"{BASE_URL}?page={n}"


def encode(obj):
    return json.dumps(obj, ensure_ascii=False, separators=(", ", ": ")).encode("utf-8")


def generate(seed):
    """Return (files, spec, expected).

    files: {file name: bytes}; spec: what the harness needs to serve and
    run a pass; expected: the outputs a correct pass produces."""
    rng = SplitMix64(seed)
    name = lambda n: f"{SLUG}_{TABLE}_page_{n}.json"
    files, served = {}, []
    gold, months, seq = {}, {}, 0

    def batch(count, lost=False):
        nonlocal seq
        recs = []
        for _ in range(count):
            rec, key, cents = record(rng, seq)
            seq += 1
            recs.append(rec)
            if not lost:
                gold[key] = gold.get(key, 0) + cents
                part = (rec["ano"], rec["mes"])
                months[part] = months.get(part, 0) + 1
        return recs

    # pages 1..BARE: legacy bare arrays; then a torn envelope, whose rows
    # are lost; then the served envelope pages and an empty last page
    for n in range(1, BARE + 1):
        files[name(n)] = encode(batch(PER_PAGE))
    torn = encode({"count": 0, "next": None, "previous": None,
                   "results": batch(PER_PAGE, lost=True)})
    files[name(BARE + 1)] = torn[: len(torn) // 2]
    first, last = BARE + 2, PAGES + 1
    total = (PAGES - BARE) * PER_PAGE
    for n in range(first, last + 1):
        body = encode({
            "count": total,
            "next": page_url(n + 1),
            "previous": page_url(n - 1) if n > first else None,
            "results": batch(PER_PAGE)})
        files[name(n)] = body
        served.append({"url": page_url(n), "file": name(n)})
    files[name(last + 1)] = encode(
        {"count": total, "next": None, "previous": page_url(last), "results": []})
    served.append({"url": page_url(last + 1), "file": name(last + 1)})

    partitions = sorted(months)
    incremental = [list(partitions[rng.below(len(partitions))]) for _ in range(N_INCREMENTAL)]
    commit_year = YEARS[0]
    reads = []
    for _ in range(N_READS):
        lo = 1 + rng.below(N_COMMITS)
        reads.append([lo, lo + rng.below(N_COMMITS + 1 - lo)])
    spec = {
        "base_url": BASE_URL, "slug": SLUG, "table": TABLE,
        "preplaced": [name(n) for n in range(1, BARE + 2)], "served": served,
        "incremental": incremental, "commit_year": commit_year,
        "commit_months": list(range(1, N_COMMITS + 1)), "reads": reads,
    }
    expected = {
        "fetch": {"pages": PAGES - BARE, "skipped": BARE + 1, "records": total,
                  "stopped": "exhausted"},
        "bronze_rows": PAGES * PER_PAGE,
        "gold": [[list(k), v] for k, v in sorted(gold.items())],
        "partition_rows": {f"{a}-{m}": n for (a, m), n in sorted(months.items())},
        "read_rows": [sum(months.get((commit_year, m), 0) for m in range(lo, hi + 1))
                      for lo, hi in reads],
    }
    return files, spec, expected
