"""Seeded raw-input generator for the ``etl_star_load`` workload.

:func:`write_raw_csvs` is a pure function of ``seed`` (same seed, same
bytes).  It writes per-year (ocorrencia, causas) CSVs in the reference's
raw dialect (``;`` separator, latin1) with the dirty-data classes listed in
``processo_etl_spark/etl/fixtures.py`` (class 10, two distinct years, when
given two years), and returns the invariants the star load must satisfy
(:class:`EtlExpectations`).  Unlike that fixture, whose dirty rows sit at
fixed indices, the rows here are drawn from the seed.

The ``registry_mix`` workload reads the fixed tables in ``data/`` instead.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np

from processo_etl_spark.etl.fixtures import _CAUSAS_COLS, _OCORRENCIA_COLS, _write_csv

NOT_INFORMED = "não informado"

WEEKDAYS_PT = (  # date.weekday() order
    "segunda-feira", "terça-feira", "quarta-feira", "quinta-feira",
    "sexta-feira", "sábado", "domingo",
)
UFS = (
    "AC", "AL", "AP", "AM", "BA", "CE", "DF", "ES", "GO", "MA", "MT", "MS",
    "MG", "PA", "PB", "PR", "PE", "PI", "RJ", "RN", "RS", "RO", "RR", "SC",
    "SP", "SE", "TO",
)
SENTIDOS = ("Crescente", "Decrescente", "Não Informado")
PISTAS = ("Dupla", "Múltipla", "Simples")
CONDICOES = (
    "Chuva", "Céu Claro", "Garoa/Chuvisco", "Granizo", "Ignorado", "Neve",
    "Nevoeiro/Neblina", "Nublado", "Sol", "Vento",
)
CLASSIFICACOES = ("Com Vítimas Fatais", "Com Vítimas Feridas", "Sem Vítimas")
FASES = ("Madrugada", "Amanhecer", "Dia", "Tarde", "Noite")

# Values each star dimension may hold after cleaning: the allow-list plus
# the 'não informado' fallback (uso_solo is recoded Não/Sim → Rural/Urbano).
OUTPUT_DOMAINS: dict[str, dict[str, tuple[str, ...]]] = {
    "dim_tempo": {"dia_semana": WEEKDAYS_PT, "fase_dia": FASES},
    "dim_local": {"uf": UFS},
    "dim_rodovia": {
        "sentido_via": SENTIDOS, "tipo_pista": PISTAS,
        "uso_solo": ("Rural", "Urbano"),
    },
    "dim_descritivo": {
        "condicao_metereologica": CONDICOES,
        "classificacao_acidente": CLASSIFICACOES,
    },
}

# Boundary hours 5/7/12/18/23 and their neighbours (dirty class 12).
_BOUNDARY_TIMES = (
    "04:59:00", "05:00:00", "06:59:59", "07:00:00", "11:59:00", "12:00:00",
    "17:59:00", "18:00:00", "23:00:00",
)
_TRACADOS = (
    "Reta", "Curva", "Reta;Aclive", "Reta;Curva;Ponte", "Declive;Curva",
    "Túnel;Desvio Temporário", "Rotatória", "Viaduto", "Em Obras",
    "Interseção de Vias", "Retorno Regulamentado",
    "Acli", "Aclive    ",  # dirty labels (class 5)
)
_MARCAS = (
    "VW/GOL 1.0", "FIAT/UNO MILLE", "GM/CELTA", "FORD/KA", "HONDA/CG 160",
    "I/TOYOTA COROLLA XEI", "I/HONDA CIVIC LX",  # import form (class 6)
)
_VEICULOS = ("Automóvel", "Motocicleta", "Caminhão", "Ônibus", "Bicicleta")


@dataclass
class EtlExpectations:
    """What a correct star load of the generated CSVs must produce."""

    fact_rows: int
    raw_rows: int
    raw_bytes: int
    year_files: dict[int, dict[str, str]]


def _dirty(rng: np.random.Generator, rate: float) -> bool:
    return bool(rng.random() < rate)


def _accident_rows(rng: np.random.Generator, year: int, n_rows: int):
    """Yield (ocorrencia row, survives-the-constraint-filters) pairs."""
    start = dt.date(year, 1, 1)
    n_days = (dt.date(year + 1, 1, 1) - start).days
    forced_dates = (dt.date(year, 1, 1), dt.date(year, 9, 7))  # holidays
    for i in range(n_rows):
        if i < len(forced_dates):
            d = forced_dates[i]  # class 11: holidays
        else:
            d = start + dt.timedelta(days=int(rng.integers(n_days)))
        if i < len(_BOUNDARY_TIMES):
            horario = _BOUNDARY_TIMES[i]  # class 12
        else:
            horario = (
                f"{int(rng.integers(24)):02d}:{int(rng.integers(60)):02d}:"
                f"{int(rng.integers(60)):02d}"
            )
        pessoas = int(rng.integers(1, 7))
        mortos = int(rng.integers(0, min(2, pessoas) + 1))
        feridos = int(rng.integers(0, pessoas - mortos + 1))
        veiculos = int(rng.integers(1, 4))
        roll = rng.random()
        if roll < 0.02:
            mortos = pessoas + int(rng.integers(1, 4))  # class 3
        elif roll < 0.04:
            feridos = pessoas + int(rng.integers(1, 6))  # class 3
        elif roll < 0.06:
            pessoas, mortos, feridos = 0, 0, 0  # class 4: zero marker
        if _dirty(rng, 0.02):
            veiculos = 0  # class 4
        survives = mortos <= pessoas and feridos <= pessoas
        weekday = WEEKDAYS_PT[d.weekday()]
        row = {
            "id": year * 1_000_000 + i,
            "data_inversa": d.isoformat(),
            "dia_semana": (  # class 1/2: null or non-domain spelling
                None if _dirty(rng, 0.01)
                else "Segunda" if _dirty(rng, 0.01) else weekday
            ),
            "horario": horario,
            "uf": (
                None if _dirty(rng, 0.01)
                else "XX" if _dirty(rng, 0.02) else UFS[int(rng.integers(len(UFS)))]
            ),
            "br": None if _dirty(rng, 0.05) else float(int(rng.integers(1, 50)) * 10 + 1),
            "km": None if _dirty(rng, 0.05) else f"{int(rng.integers(1, 900))},{int(rng.integers(10))}",
            "municipio": None if _dirty(rng, 0.01) else f"MUNICIPIO {int(rng.integers(60))}",
            "causa_acidente": None if _dirty(rng, 0.01) else f"Causa {int(rng.integers(12))}",
            "tipo_acidente": None if _dirty(rng, 0.01) else f"Tipo {int(rng.integers(8))}",
            "classificacao_acidente": (
                "Desconhecida" if _dirty(rng, 0.01)
                else CLASSIFICACOES[int(rng.integers(len(CLASSIFICACOES)))]
            ),
            "fase_dia": "Pleno dia",  # class 7: stale label, recomputed from horario
            "sentido_via": (
                "Ignorada" if _dirty(rng, 0.01) else SENTIDOS[int(rng.integers(len(SENTIDOS)))]
            ),
            "condicao_metereologica": (
                None if _dirty(rng, 0.02)
                else "Chuvisco" if _dirty(rng, 0.02)
                else CONDICOES[int(rng.integers(len(CONDICOES)))]
            ),
            "tipo_pista": "Tripla" if _dirty(rng, 0.01) else PISTAS[int(rng.integers(len(PISTAS)))],
            "tracado_via": None if _dirty(rng, 0.01) else _TRACADOS[int(rng.integers(len(_TRACADOS)))],
            "uso_solo": "Talvez" if _dirty(rng, 0.01) else ("Sim", "Não")[int(rng.integers(2))],
            "pessoas": pessoas,
            "mortos": mortos,
            "feridos_leves": feridos,
            "feridos_graves": 0,
            "ilesos": max(pessoas - mortos - feridos, 0),
            "ignorados": 0,
            "feridos": feridos,
            "veiculos": veiculos,
            # Unique per accident (class 8: decimal comma), so every
            # surviving accident has its own dim_local row and fact grain.
            "latitude": f"-{20 + year % 10},{i:06d}",
            "longitude": f"-{40 + year % 10},{(i * 7919) % 1_000_000:06d}",
            "regional": "SPRF-SC",
            "delegacia": None if _dirty(rng, 0.05) else f"DEL0{int(rng.integers(8))}-SC",
            "uop": "UOP01",
        }
        yield row, survives


def _causas_rows(rng: np.random.Generator, accident_id: int):
    roll = rng.random()
    n = 0 if roll < 0.05 else 2 if roll < 0.25 else 1  # class 9: duplicate ids
    for _ in range(n):
        yield {
            "id": accident_id,
            "tipo_veiculo": None if _dirty(rng, 0.03) else _VEICULOS[int(rng.integers(len(_VEICULOS)))],
            "marca": None if _dirty(rng, 0.03) else _MARCAS[int(rng.integers(len(_MARCAS)))],
            "ano_fabricacao_veiculo": (
                None if _dirty(rng, 0.04)
                else 0 if _dirty(rng, 0.04) else 1995 + int(rng.integers(30))
            ),
        }


def write_raw_csvs(
    dest_dir: str, seed: int, years: tuple[int, ...], rows_per_year: int
) -> EtlExpectations:
    """Write ``datatran<year>.csv`` + ``causas<year>.csv`` per year."""
    os.makedirs(dest_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    files: dict[int, dict[str, str]] = {}
    fact_rows = raw_rows = raw_bytes = 0
    for year in years:
        accidents, causas = [], []
        for row, survives in _accident_rows(rng, year, rows_per_year):
            accidents.append(row)
            causas.extend(_causas_rows(rng, row["id"]))
            fact_rows += survives
        opath = os.path.join(dest_dir, f"datatran{year}.csv")
        cpath = os.path.join(dest_dir, f"causas{year}.csv")
        _write_csv(opath, _OCORRENCIA_COLS, accidents)
        _write_csv(cpath, _CAUSAS_COLS, causas)
        files[year] = {"ocorrencia": opath, "causas": cpath}
        raw_rows += len(accidents) + len(causas)
        raw_bytes += os.path.getsize(opath) + os.path.getsize(cpath)
    return EtlExpectations(fact_rows, raw_rows, raw_bytes, files)
