"""tools/code_lines.py counts code lines by its tokenize rule."""

from __future__ import annotations

from tools.code_lines import code_lines, main

SNIPPET = '''"""Module docstring
spanning two lines."""

import os  # a trailing comment

# a comment line


def join(a, b):
    """Function docstring."""
    x = "a string in an assignment"
    return os.path.join(
        a,
        b,
    )
'''


def test_code_lines_skips_comments_blanks_and_docstrings():
    """Counted: the import, the def, the assignment and all four lines
    of the multi-line call. Not counted: blanks, comments and both
    docstrings."""
    assert code_lines(SNIPPET) == 7
    assert code_lines("") == 0
    assert code_lines('x = 1\n"""a bare string statement"""\n') == 1


def test_code_lines_cli_prints_files_and_total(tmp_path, capsys):
    (tmp_path / "a.py").write_text(SNIPPET)
    (tmp_path / "sub").mkdir()
    (tmp_path / "sub" / "b.py").write_text("y = [\n    1,\n]\n")
    assert main([str(tmp_path)]) == 0
    lines = capsys.readouterr().out.splitlines()
    assert [ln.split()[0] for ln in lines] == ["7", "3", "10"]
    assert lines[-1].split()[1] == "total"
