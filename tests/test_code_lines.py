"""``scripts/code_lines.py``: the code-line counter the ROADMAP quotes."""

from __future__ import annotations

import importlib.util
import os

_SCRIPT = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts", "code_lines.py")


def _counter():
    spec = importlib.util.spec_from_file_location("code_lines", _SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


SNIPPET = '''"""Module docstring,
two lines."""

# a comment
import os  # trailing comment counts as code


class A:
    """Class docstring."""

    x = """a multi-line
string value"""

    def f(self):
        """Function
        docstring."""
        "a bare string that is not first is code"
        return (1 +

                2)
'''


def test_counts_code_lines_of_a_snippet(tmp_path, capsys):
    cl = _counter()
    # import, class, x = (2 lines), def, bare string, and the return's
    # two lines (the blank line inside its parentheses does not count)
    assert cl.code_lines(SNIPPET) == 8
    a, b = tmp_path / "a.py", tmp_path / "b.py"
    a.write_text(SNIPPET)
    b.write_text("x = 1\n\n\n")
    assert cl.main([str(a), str(b)]) == 0
    assert capsys.readouterr().out.splitlines() == [
        f"8 {a}", f"1 {b}", "9 total"]
    assert cl.main([]) == 2
