"""Error taxonomy — parity with the reference's typed document errors.

Codes and severities follow
reference Horus.Functions/Engines/Processing/ProcessingEngine.cs:41-130 and
Horus.Functions/Models/DocumentError.cs:7-16. The single quote sanitization
('\'' -> '@Illegal@') follows ProcessingEngine.cs:37-40 / BaseConstants.cs:21.
"""

SEV_OBSERVATION = "Observation"
SEV_WARNING = "Warning"
SEV_TERMINAL = "Terminal"

ILLEGAL_MARKER = "@Illegal@"

CODE_STRING_NULL = "PRE0001"
CODE_NUMBER_NULL = "PRE0002"
CODE_NUMBER_VALUE_NULL = "PRE0003"
CODE_NUMBER_ZERO = "PRE0004"
CODE_NUMBER_PARSE = "PRE0005"
CODE_DATE_NULL = "PRE0006"
CODE_DATE_PARSE = "PRE0007"
