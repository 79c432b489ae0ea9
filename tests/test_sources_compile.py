"""Every Python source of the project compiles with warnings raised as
errors. An invalid escape sequence in a plain string literal (``'\\s+'``
in a regex or SQL text) only warns when the module is compiled, on
every fresh import; here it fails. Needs no Spark session."""

import pathlib
import warnings

ROOT = pathlib.Path(__file__).resolve().parent.parent
SOURCES = [
    *sorted(p for d in ("pd_explain_spark", "scripts", "tests") for p in (ROOT / d).rglob("*.py")),
    ROOT / "__spark_entry__.py",
]


def test_sources_compile_without_warnings():
    failures = []
    for path in SOURCES:
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            try:
                compile(path.read_text(encoding="utf-8"), str(path), "exec")
            except (SyntaxError, Warning) as e:
                failures.append(f"{path.relative_to(ROOT)}: {e}")
    assert not failures, "\n".join(failures)
