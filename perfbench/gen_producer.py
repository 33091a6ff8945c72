"""Seeded input generator for the `producer` workload.

Writes reclamações-shaped CSV files the way the BCB publishes them: the
BCB header spelling, `;` as delimiter, ISO-8859-1 encoding, one extra
column the producer must drop, and empty nullable fields at fixed shares.
No required field is ever empty, so the strict shipped pipeline never
fails a batch on a generated row.

Each file is one quarterly report: file i carries (ano, trimestre) =
(2001 + i // 4, "<i % 4 + 1>º"), so after decoding the sink the rows of
each file can be told apart and counted, which is how delivery is checked
(exactly once per file).

Beside the files it writes `expected.json`: the row count per file and an
order-independent checksum of each file's canonical rows, computed from
this file's own header -> column mapping (no engine code is involved).

Canonical row checksum: the 14 canonical values in schema order, a null
written as \\N, joined with U+001F, UTF-8 encoded, MD5; the first 15 hex
digits read as an integer; summed over all rows.
"""
import hashlib
import json
import os
import random

# BCB header -> canonical column; None marks the column projection drops.
# The dashes are U+2013, which ISO-8859-1 cannot carry: they are written
# as '?' exactly like a Java ISO-8859-1 encoder writes them.
HEADER = [
    ("Ano", "ano"),
    ("Trimestre", "trimestre"),
    ("Categoria", "categoria"),
    ("Tipo", "tipo"),
    ("CNPJ IF", "cnpj_if"),
    ("Instituição financeira", "instituicao_financeira"),
    ("Índice", "indice"),
    ("Quantidade de reclamações reguladas procedentes",
     "quantidade_de_reclamacoes_reguladas_procedentes"),
    ("Quantidade de reclamações reguladas - outras",
     "quantidade_de_reclamacoes_reguladas_outras"),
    ("Quantidade de reclamações não reguladas",
     "quantidade_de_reclamacoes_nao_reguladas"),
    ("Quantidade total de reclamações", "quantidade_total_de_reclamacoes"),
    ("Quantidade total de clientes – CCS e SCR",
     "quantidade_total_de_clientes_ccs_e_scr"),
    ("Quantidade de clientes – CCS", "quantidade_de_clientes_ccs"),
    ("Quantidade de clientes – SCR", "quantidade_de_clientes_scr"),
    ("Observação do relatório", None),
]

CANONICAL = [c for _, c in HEADER if c is not None]

# share of rows left empty, per nullable column (the .avsc null unions)
EMPTY_SHARE = {
    "cnpj_if": 0.10,
    "quantidade_de_reclamacoes_reguladas_outras": 0.05,
    "quantidade_de_reclamacoes_nao_reguladas": 0.05,
    "quantidade_de_clientes_ccs": 0.20,
    "quantidade_de_clientes_scr": 0.20,
}

CATEGORIAS = ["Bancos e financeiras", "Administradoras de consórcio",
              "Cooperativas de crédito", "Instituições de pagamento"]
TIPOS = ["Banco comercial", "Banco múltiplo", "Caixa econômica",
         "Cooperativa singular", "Sociedade de crédito"]
NOMES = ["BANCO DO NORDESTE", "CAIXA ECONÔMICA", "COOPERATIVA SÃO JOÃO",
         "FINANCEIRA AÇORES", "BANCO INTERAÇÃO", "CRÉDITO MÚTUO PARANÁ",
         "BANCO ÔMEGA", "PAGAMENTOS ÁGIL", "CONSÓRCIO ÚNICO", "BANCO ÉDEN"]


def quarter(i):
    return str(2001 + i // 4), f"{i % 4 + 1}º"


def make_row(rng, ano, tri):
    def count(hi):
        return str(rng.randrange(0, hi))

    row = {
        "ano": ano,
        "trimestre": tri,
        "categoria": rng.choice(CATEGORIAS),
        "tipo": rng.choice(TIPOS),
        "cnpj_if": f"{rng.randrange(10**7, 10**8)}",
        "instituicao_financeira":
            f"{rng.choice(NOMES)} {rng.randrange(1000)} S.A.",
        "indice": f"{rng.randrange(0, 10000)},{rng.randrange(0, 100):02d}",
        "quantidade_de_reclamacoes_reguladas_procedentes": count(5000),
        "quantidade_de_reclamacoes_reguladas_outras": count(5000),
        "quantidade_de_reclamacoes_nao_reguladas": count(5000),
        "quantidade_total_de_reclamacoes": count(20000),
        "quantidade_total_de_clientes_ccs_e_scr": count(10**7),
        "quantidade_de_clientes_ccs": count(10**7),
        "quantidade_de_clientes_scr": count(10**7),
    }
    for c, share in EMPTY_SHARE.items():
        if rng.random() < share:
            row[c] = None
    return row


def row_hash(row):
    canon = "\x1f".join("\\N" if row[c] is None else row[c] for c in CANONICAL)
    return int(hashlib.md5(canon.encode("utf-8")).hexdigest()[:15], 16)


def write_file(path, rng, index, rows):
    ano, tri = quarter(index)
    header = ";".join(h for h, _ in HEADER)
    lines = [header]
    checksum = 0
    for _ in range(rows):
        row = make_row(rng, ano, tri)
        checksum += row_hash(row)
        extra = f"revisado em {rng.randrange(1, 29):02d}/{rng.randrange(1, 13):02d}"
        lines.append(";".join(
            [("" if row[c] is None else row[c]) for c in CANONICAL] + [extra]))
    data = ("\n".join(lines) + "\n").encode("iso-8859-1", errors="replace")
    with open(path, "wb") as f:
        f.write(data)
    return {"rows": rows, "bytes": len(data), "ano": ano, "trimestre": tri,
            "checksum": checksum}


def generate(out_dir, seed, backlog_files, backlog_rows, burst_files, burst_rows):
    """Write backlog/ and burst/ CSV files plus expected.json under out_dir."""
    rng = random.Random(seed)
    files = {}
    for kind, n, rows, base in (("backlog", backlog_files, backlog_rows, 0),
                                ("burst", burst_files, burst_rows, backlog_files)):
        os.makedirs(os.path.join(out_dir, kind), exist_ok=True)
        for k in range(n):
            name = f"reclamacoes_{base + k:04d}.csv"
            info = write_file(os.path.join(out_dir, kind, name), rng, base + k, rows)
            info["kind"] = kind
            info["checksum"] = str(info["checksum"])
            files[name] = info
    expected = {
        "seed": seed,
        "rows": sum(f["rows"] for f in files.values()),
        "checksum": str(sum(int(f["checksum"]) for f in files.values())),
        "files": files,
    }
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    return expected
